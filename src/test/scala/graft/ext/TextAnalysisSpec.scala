package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.SessionMemo

/** Contracts for the corpus-scoring operators whose oracle twins only
  * check end-to-end equality: the quality gate's percentile semantics and
  * the novelty score's global consistency.
  */
class TextAnalysisSpec extends SparkSpec {

  test("lmQualityFilter drops exactly the bottom quartile per language") {
    val rows = TextAnalysis.lmQualityFilter(spark, Sf)
      .select("lang", "avg_p", "pct_rank", "keep").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, grp) =>
      val n = grp.length
      val dropped = grp.filterNot(_.getBoolean(3))
      // dropped = ranks r in 1..n with (r-1)/(n-1) < 0.25
      val expectedDropped =
        if (n == 1) 0 else (1 to n).count(r => (r - 1).toDouble / (n - 1) < 0.25)
      assert(dropped.length == expectedDropped, s"n=$n dropped=${dropped.length}")
      // order property: every kept doc scores at least every dropped doc
      if (dropped.nonEmpty) {
        val worstKept = grp.filter(_.getBoolean(3)).map(_.getDouble(1)).min
        assert(dropped.map(_.getDouble(1)).max <= worstKept)
      }
    }
  }

  test("lmQualityFilter keeps the sole document of a singleton language") {
    // A 1-row language partition has percent_rank 0.0; the gate must keep
    // it (rare-language documents are the ones a curation run least wants
    // to delete). Built on a synthetic corpus because the shared fixtures
    // have no singleton language.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-singleton").toString
    val docs = Seq(
      (1L, "the cat sat on the mat and then the cat slept", "en", "web", 45L),
      (2L, "the dog sat on the mat and then the dog slept", "en", "web", 45L),
      (3L, "a bird flew over the mat and then a bird slept", "en", "web", 46L),
      (4L, "one two three four five six seven eight nine ten", "en", "web", 48L),
      (5L, "der hund schlief auf der matte und der hund traeumte", "de", "web", 52L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.lmQualityFilter(spark, dir).collect()
    val de = rows.filter(_.getString(1) == "de")
    assert(de.length == 1 && de.head.getBoolean(4), "singleton language must be kept")
    // the multi-doc language still drops its bottom quartile
    val en = rows.filter(_.getString(1) == "en")
    assert(en.count(!_.getBoolean(4)) == (1 to en.length).count(
      r => (r - 1).toDouble / (en.length - 1) < 0.25))
  }

  test("bigramNovelty sums to the global df=1 bigram count") {
    val got = TextAnalysis.bigramNovelty(spark, Sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val distinct = r.getAs[Long]("n_bigrams_distinct")
      val novel = r.getAs[Long]("n_novel")
      val ratio = r.getAs[Double]("novelty_ratio")
      assert(novel >= 0 && novel <= distinct)
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // independent spelling: explode token pairs via the array transform,
    // count bigrams whose corpus document frequency is exactly 1
    val docs = graft.engine.Tables(spark, Sf, "documents")
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("w")) - 1),
          i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)))))
        .as("bg"))
    val dfOne = docs.groupBy("bg").count().filter(col("count") === 1).count()
    assert(got.map(_.getAs[Long]("n_novel")).sum == dfOne)
  }

  test("bpeTrainMerges matches an independent in-memory trainer") {
    val rounds = 6
    val got = TextAnalysis.bpeTrainMerges(spark, Sf, rounds)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == (1L to rounds).toSeq, "dense merge ranks")
    // chosen pair counts are non-increasing: a merge can only create new
    // pairs at most as frequent as the pair it merged
    got.map(_._4).sliding(2).foreach { case Array(a, b) => assert(a >= b) }

    // independent reference: collect the word histogram (bounded vocab)
    // and run the Sennrich loop in plain Scala
    var vocab: Map[Vector[String], Long] = graft.engine.Tables(spark, Sf, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0).map(_.toString).toVector -> r.getLong(1)).toMap
    val expect = (1 to rounds).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val (pair, cnt) = counts.toSeq.minBy { case ((l, rt), c) => (-c, l, rt) }
      def merge(syms: Vector[String]): Vector[String] =
        syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == pair._1 && x == pair._2)
            acc.init :+ (pair._1 + pair._2)
          else acc :+ x
        }
      vocab = vocab.groupBy { case (syms, _) => merge(syms) }
        .map { case (k, vs) => k -> vs.values.sum }
      (r.toLong, pair._1, pair._2, cnt)
    }
    assert(got.toSeq == expect, s"got=${got.toSeq}\nexpect=$expect")

    // the encode report must equal the reference vocab's totals after all
    // merges (vocab ends in the post-merge state after the loop above)
    val rep = TextAnalysis.bpeEncodeReport(spark, Sf, rounds).collect()(0)
    val nWords = vocab.size.toLong
    val nWs = vocab.values.sum
    val nChars = vocab.map { case (syms, f) => f * syms.map(_.length).sum }.sum
    val nBpe = vocab.map { case (syms, f) => f * syms.length }.sum
    assert(rep.getLong(0) == nWords && rep.getLong(1) == nWs &&
      rep.getLong(2) == nChars && rep.getLong(3) == nBpe,
      s"encode report ${rep.toSeq} vs ($nWords, $nWs, $nChars, $nBpe)")
    assert(rep.getDouble(4) == nChars.toDouble / nBpe)
    assert(nBpe < nChars, "merges must compress below character count")
  }

  test("per-source BPE fertility partitions the global encode report exactly") {
    val rounds = 8
    val rep = TextAnalysis.bpeEncodeReport(spark, Sf, rounds).collect()(0)
    val bySource = TextAnalysis.bpeFertilityBySource(spark, Sf, rounds).collect()
    assert(bySource.nonEmpty)
    // the per-source integer sums must tie out to the corpus totals:
    // every whitespace token belongs to exactly one source
    assert(bySource.map(_.getAs[Long]("n_words")).sum == rep.getLong(1))
    assert(bySource.map(_.getAs[Long]("n_chars")).sum == rep.getLong(2))
    assert(bySource.map(_.getAs[Long]("n_bpe_tokens")).sum == rep.getLong(3))
    bySource.foreach { r =>
      val fert = r.getAs[Double]("bpe_tokens_per_word")
      val cpt = r.getAs[Double]("chars_per_bpe_token")
      assert(fert >= 1.0, s"${r.getString(0)}: a word is at least one token")
      assert(cpt >= 1.0, s"${r.getString(0)}: a token is at least one char")
      assert(fert == r.getAs[Long]("n_bpe_tokens").toDouble / r.getAs[Long]("n_words"))
    }
  }

  test("x131: buckets partition each language's scored docs; score ranges nest") {
    val buckets = TextAnalysis.ccnetBuckets(spark, Sf).collect()
    assert(buckets.nonEmpty)
    val scored = TextAnalysis.bigramLmScore(spark, Sf)
      .join(spark.read.parquet(s"$Sf/documents.parquet").select("doc_id", "lang"), "doc_id")
      .collect().groupBy(_.getAs[String]("lang"))
    buckets.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val sizes = rows.map(_.getAs[Long]("n_docs"))
      assert(sizes.sum == scored(lang).length,
        s"$lang: bucket sizes must partition the scored docs")
      // ntile balance: sizes differ by at most one
      assert(sizes.max - sizes.min <= 1, s"$lang: ntile must balance")
      // head scores dominate middle dominate tail (ties may touch)
      val byBucket = rows.sortBy(_.getAs[Long]("bucket"))
      byBucket.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi.getAs[Double]("min_p") >= lo.getAs[Double]("max_p"),
            s"$lang: bucket ${hi.getAs[Long]("bucket")} must dominate the next")
        case _ => ()
      }
    }
    val names = buckets.map(r => r.getAs[Long]("bucket") -> r.getAs[String]("bucket_name"))
    assert(names.toSet.subsetOf(Set(1L -> "head", 2L -> "middle", 3L -> "tail")))
  }

  test("x133: held-out scores are out-of-fold and match a driver brute force") {
    val rows = TextAnalysis.heldoutLmScore(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 5 == 4), "only fold-4 docs are scored")
    // driver-side reference: train counts from the raw text, same λ-tree
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSeq)
    val train = docs.filter(_._1 % 5 != 4)
    val uni = train.flatMap(_._2).groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val big = train.flatMap { case (_, ts) => ts.zip(ts.drop(1)) }
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val nTok = uni.values.sum
    val v = uni.size.toLong
    docs.filter(_._1 % 5 == 4).foreach { case (id, ts) =>
      val bigrams = ts.zip(ts.drop(1))
      if (bigrams.nonEmpty) {
        val ps = bigrams.map { case (w1, w2) =>
          val pBi = (big.get((w1, w2)), uni.get(w1)) match {
            case (Some(c2), Some(c1)) => c2.toDouble / c1.toDouble
            case _ => 0.0
          }
          val pUni = (uni.getOrElse(w2, 0L) + 1L).toDouble / (nTok + v).toDouble
          0.75 * pBi + 0.25 * pUni
        }
        val expect = ps.sorted.foldLeft(0.0)(_ + _) / ps.size
        val nBackoff = bigrams.count(b => !big.contains(b)).toLong
        val r = rows.find(_.getLong(0) == id).get
        assert(r.getLong(1) == bigrams.size, s"doc $id bigram count")
        assert(r.getLong(2) == nBackoff, s"doc $id backoff count")
        assert(r.getDouble(3) == expect, s"doc $id: pinned fold must match exactly")
      }
    }
    // the model must actually back off somewhere on real data
    assert(rows.map(_.getLong(2)).sum > 0, "held-out text should contain unseen bigrams")
  }

  test("x131/x136 plan shapes: per-language windows, no corpus cartesian") {
    val b = TextAnalysis.ccnetBuckets(spark, Sf).queryExecution.executedPlan.toString
    // the tercile window must partition by language — a SinglePartition
    // window over the corpus is the 1000-executor bottleneck
    assert(b.contains("hashpartitioning(lang"),
      s"ntile window should hash-partition by lang:\n${b.take(2000)}")
    assert(!b.contains("CartesianProduct"))
    val f = TextAnalysis.filterAgreement(spark, Sf).queryExecution.executedPlan.toString
    assert(!f.contains("CartesianProduct"))
  }

  test("x139: KN probabilities are proper and driver brute force matches exactly") {
    val rows = TextAnalysis.knLmScore(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 5 == 4))
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSeq)
    val train = docs.filter(_._1 % 5 != 4)
    val big = train.flatMap { case (_, ts) => ts.zip(ts.drop(1)) }
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val tc = big.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val n1 = big.groupBy(_._1._1).map { case (w, m) => w -> m.size.toLong }
    val contw = big.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val nbig = big.size.toLong
    val d = 0.75
    docs.filter(_._1 % 5 == 4).foreach { case (id, ts) =>
      val bigrams = ts.zip(ts.drop(1))
      if (bigrams.nonEmpty) {
        val ps = bigrams.map { case (w1, w2) =>
          val pc = contw.getOrElse(w2, 0L).toDouble / nbig.toDouble
          tc.get(w1) match {
            case None => pc
            case Some(t) =>
              math.max(big.getOrElse((w1, w2), 0L).toDouble - d, 0.0) / t.toDouble +
                (d * n1(w1).toDouble / t.toDouble) * pc
          }
        }
        val r = rows.find(_.getLong(0) == id).get
        assert(r.getLong(1) == bigrams.size)
        assert(r.getLong(2) == bigrams.count(b => !tc.contains(b._1)).toLong)
        assert(r.getDouble(3) == ps.sorted.foldLeft(0.0)(_ + _) / ps.size,
          s"doc $id KN mean")
        ps.foreach(p => assert(p >= 0.0 && p <= 1.0 + 1e-12, s"doc $id improper p"))
      }
    }
  }

  test("x136: contingency cells reconstruct from the three filters independently") {
    import org.apache.spark.sql.functions.col
    val m = TextAnalysis.filterAgreement(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(m.keySet == Set(("gopher", "heuristic"), ("gopher", "lm"), ("heuristic", "lm")))
    val nDocs = spark.read.parquet(s"$Sf/documents.parquet").count()
    val heur = TextAnalysis.qualityScore(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    val gopher = TextAnalysis.gopherRules(spark, Sf)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val lm = TextAnalysis.lmQualityFilter(spark, Sf)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val ids = heur.keySet
    def check(a: Map[Long, Boolean], b: Map[Long, Boolean], key: (String, String)) = {
      val r = m(key)
      def ka(id: Long) = a.getOrElse(id, false)
      def kb(id: Long) = b.getOrElse(id, false)
      assert(r.getAs[Long]("n_both_keep") == ids.count(i => ka(i) && kb(i)).toLong)
      assert(r.getAs[Long]("n_only_a") == ids.count(i => ka(i) && !kb(i)).toLong)
      assert(r.getAs[Long]("n_only_b") == ids.count(i => !ka(i) && kb(i)).toLong)
      assert(r.getAs[Long]("n_neither") == ids.count(i => !ka(i) && !kb(i)).toLong)
      val cells = Seq("n_both_keep", "n_only_a", "n_only_b", "n_neither")
        .map(r.getAs[Long](_)).sum
      assert(cells == nDocs, "cells must partition the corpus")
    }
    check(gopher, heur, ("gopher", "heuristic"))
    check(gopher, lm, ("gopher", "lm"))
    check(heur, lm, ("heuristic", "lm"))
  }

  test("x147 NB quality classifier matches a driver-side integer reference") {
    val labels = TextAnalysis.gopherRules(spark, Sf)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val tf = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"),
        explode(TextAnalysis.wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val train = tf.filter { case (id, _, _) => id % 2 == 0 }
    // tf rows are (doc, w)-distinct, so df per token = row count
    val vocab = train.groupBy(_._2).filter(_._2.length >= 2).map {
      case (w, rs) =>
        (w, rs.filter(r => labels(r._1)).map(_._3).sum,
          rs.filter(r => !labels(r._1)).map(_._3).sum)
    }.toSeq
    val pTot = vocab.map(_._2).sum
    val nTot = vocab.map(_._3).sum
    val v = vocab.size.toLong
    val wt = vocab.map { case (w, p, n) =>
      (w, (p + 1L) * (nTot + v) - (n + 1L) * (pTot + v))
    }.toMap
    val scores = tf.filter(t => wt.contains(t._2)).groupBy(_._1).map {
      case (id, rs) => (id, (rs.map(_._3).sum, rs.map(r => r._3 * wt(r._2)).sum))
    }
    val expected = labels.keys.toSeq.sorted.map { id =>
      val (nv, sc) = scores.getOrElse(id, (0L, 0L))
      (id, if (id % 2 == 0) "train" else "heldout", nv, sc, sc > 0L, labels(id))
    }
    val got = TextAnalysis.nbQualityScore(spark, Sf).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))
    assert(got.toSeq === expected)
    // the classifier must actually learn the weak signal: train-split
    // accuracy above the majority-class rate
    val trainRows = got.filter(_._2 == "train")
    val majority = math.max(trainRows.count(_._6), trainRows.count(r => !r._6))
    assert(trainRows.count(r => r._5 == r._6) >= majority,
      "NB surrogate should fit its own training labels at least as well as majority-class")
  }

  test("x151 frequency octaves match a driver-side reference and partition the token mass") {
    val toks = spark.read.parquet(s"$Sf/documents.parquet")
      .select(explode(TextAnalysis.wsTokens(lower(col("text")))).as("w"))
      .collect().map(_.getString(0))
    val byOct = toks.groupBy(identity).map(_._2.length.toLong)
      .groupBy(c => 63 - java.lang.Long.numberOfLeadingZeros(c))
    val expected = byOct.keys.toSeq.sorted.map { o =>
      val cs = byOct(o).toSeq
      (o.toLong, 1L << o, cs.size.toLong, cs.sum)
    }
    val got = TextAnalysis.freqOctaves(spark, Sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq === expected)
    // octave bounds: every count in [2^o, 2^{o+1}) — implied by the
    // reference; also check the top-down cumulative closes at the total
    assert(got.map(_._4).sum === toks.length.toLong)
    assert(got.head._5 === got.map(_._4).sum,
      "lowest octave's top-down cumulative must equal the whole corpus")
    // the binary-length octave arithmetic agrees with floor(log2) across
    // the whole BIGINT-relevant range the twin relies on
    for (c <- Seq(1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L, (1L << 40) - 1, 1L << 40))
      assert(63 - java.lang.Long.numberOfLeadingZeros(c) ===
        java.lang.Long.toBinaryString(c).length - 1)
  }

  test("x155 funnel stages agree with the individually-verified gate legs") {
    def flags(df: org.apache.spark.sql.DataFrame, c: String): Map[Long, Boolean] =
      df.select(col("doc_id"), col(c)).collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val g = flags(TextAnalysis.gopherRules(spark, Sf), "keep")
    val l = TextAnalysis.langId(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1) == r.getString(2))).toMap
    val c = flags(Dedup.dedupExact(spark, Sf)
      .select(col("doc_id"), col("is_canonical")), "is_canonical")
    val lm = flags(TextAnalysis.lmQualityFilter(spark, Sf)
      .select(col("doc_id"), col("keep")), "keep")
    val ids = g.keys.toSeq
    def kl(id: Long) = l(id)
    def km(id: Long) = lm.getOrElse(id, false)
    val n0 = ids.size.toLong
    val n1 = ids.count(g).toLong
    val n2 = ids.count(i => g(i) && kl(i)).toLong
    val n3 = ids.count(i => g(i) && kl(i) && c(i)).toLong
    val n4 = ids.count(i => g(i) && kl(i) && c(i) && km(i)).toLong
    val got = TextAnalysis.curationFunnel(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("1_gopher", n0, n1, n0 - n1),
      ("2_lang", n1, n2, n1 - n2),
      ("3_canonical", n2, n3, n2 - n3),
      ("4_lm_quartile", n3, n4, n3 - n4)))
    // a funnel only narrows, and every stage must actually be reachable
    assert(n0 >= n1 && n1 >= n2 && n2 >= n3 && n3 >= n4)
    assert(n0 > 0)
  }
  test("leg memo serves one pinned frame per (session, dir) and the reset seam observes a rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-legcache").toString
    def write(docs: Seq[(Long, String, String)]): Unit =
      docs.map { case (id, text, lang) => (id, text, lang, "web", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SessionMemo.reset()
    write(Seq(
      (1L, "the cat sat on the mat and the cat slept", "en"),
      (2L, "the dog sat on the mat and the dog slept", "en"),
      (3L, "a bird flew over the mat and a bird slept", "en")))
    val first = TextAnalysis.lmQualityFilter(spark, dir)
    assert(first.count() === 3L)
    assert(TextAnalysis.langId(spark, dir)
      .select("lang_detected").as[String].collect().toSet === Set("en"))
    // an in-place corpus rewrite is NOT observable through the memo
    // (the lanes wrap one pinned core frame per (session, dir))...
    write(Seq(
      (10L, "uno dos tres un gato en la casa que duerme", "es"),
      (11L, "uno dos tres un perro en la casa que duerme", "es")))
    assert(TextAnalysis.lmQualityFilter(spark, dir).count() === 3L)
    assert(TextAnalysis.langId(spark, dir)
      .select("lang_detected").as[String].collect().toSet === Set("en"))
    // ...until the reset seam clears it (the SuffixDedup/Sketches contract)
    SessionMemo.reset()
    val fresh = TextAnalysis.lmQualityFilter(spark, dir)
    assert(fresh.count() === 2L)
    assert(fresh.select("doc_id").as[Long].collect().toSet === Set(10L, 11L))
    assert(TextAnalysis.langId(spark, dir)
      .select("lang_detected").as[String].collect().toSet === Set("es"))
  }

  test("x199 TextRank equals a driver-side integer PageRank on the co-occurrence graph") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .map(_.getString(0))
    val adj = scala.collection.mutable.Map[(String, String), Long]()
    docs.foreach { t =>
      val ws = t.trim.toLowerCase.split("\\s+")
      ws.sliding(2).foreach {
        case Array(a, b) if a != b =>
          val k = if (a < b) (a, b) else (b, a)
          adj(k) = adj.getOrElse(k, 0L) + 1
        case _ =>
      }
    }
    val pruned = adj.filter(_._2 >= 2).keys.toSeq
    val edges = pruned.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (w, es) => w -> es.length.toLong }
    var pr = deg.map { case (w, _) => w -> 1000000000L }
    (1 to 5).foreach { _ =>
      val contrib = scala.collection.mutable.Map[String, Long]()
      edges.foreach { case (src, dst) =>
        contrib(dst) = contrib.getOrElse(dst, 0L) + pr(src) / deg(src)
      }
      pr = deg.map { case (w, _) =>
        w -> (150000000L + 85L * contrib.getOrElse(w, 0L) / 100L)
      }
    }
    val truth = pr.toSeq.sortBy { case (w, r) => (-r, w) }.take(20)
    val got = TextAnalysis.textrankKeywords(spark, Sf).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getLong(3)))
    assert(got.toSeq === truth)
  }
}
