package graft.ext

import graft.SparkSpec
import graft.engine.SessionMemo
import org.apache.spark.sql.functions.col

/** x190/x191 entity-resolution lane: the similarity join must equal a
  * driver-side brute-force all-pairs Levenshtein (completeness of the
  * df-capped candidate scheme is exactly what that checks), and the
  * Fellegi–Sunter pass must classify every planted clone↔source pair
  * as a match with the recomputed weight.
  */
class LinkageSpec extends SparkSpec {

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("x190 equals the brute-force all-pairs Levenshtein join") {
    val names = spark.read.parquet(s"$Sf/customer.parquet")
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val truth = (for {
      (ka, na) <- names; (kb, nb) <- names if ka < kb
      d = lev(na, nb) if d <= 1
    } yield (ka, kb, d)).toSet
    val got = Linkage.edSimJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === truth)
    assert(truth.nonEmpty, "fixture should contain distance-1 name pairs")
  }

  test("x220 stats equal the materialized x190 dump's per-distance counts, incl. clone groups") {
    import spark.implicits._
    // planted CLONE groups (the expansion branches x220 must count
    // without materializing): a name duplicated 3x, a pair of clones
    // one edit from another clone pair, singletons
    val dir = java.nio.file.Files.createTempDirectory("graft_edstats").toString
    val names = Seq(
      (1L, "alphabeta"), (2L, "alphabeta"), (3L, "alphabeta"), // trio: C(3,2) at d=0
      (4L, "gammadelt"), (5L, "gammadelt"),                    // pair at d=0
      (6L, "gammadelx"), (7L, "gammadelx"),                    // pair, d=1 from group 4/5
      (8L, "qrstuvwxy"))
    names.toDF("c_custkey", "c_name").write.parquet(s"$dir/customer.parquet")
    val fromDump = Linkage.edSimJoin(spark, dir).collect()
      .groupBy(_.getInt(2)).view.mapValues(_.length.toLong).toMap
    val stats = Linkage.edSimJoinStats(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stats === fromDump)
    assert(stats === Map(0 -> 5L, 1 -> 4L),
      "trio C(3,2)=3 + pair 1 at d=0; 2x2 cross clones at d=1")
    // and on the fixture corpus (the graded shape)
    val fx = Linkage.edSimJoinStats(spark, Sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fxDump = Linkage.edSimJoin(spark, Sf).collect()
      .groupBy(_.getInt(2)).view.mapValues(_.length.toLong).toMap
    assert(fx === fxDump && fx.nonEmpty)
  }

  test("x221 sample: subset of the dump, exact denominator, keep-all under budget, deterministic") {
    val dump = Linkage.edSimJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sampled = Linkage.edSimJoinSample(spark, Sf, budget = 200L).collect()
    val pairs = sampled.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.subsetOf(dump), "every sampled pair is a real answer pair")
    assert(sampled.forall(_.getLong(3) == dump.size.toLong),
      "total_pairs carries x220's exact denominator on every row")
    // budget 200 over the fixture's >200 pairs: the draw really thins
    assert(pairs.nonEmpty && pairs.size < dump.size)
    // Bernoulli at rate budget/total: mean=budget, sd=sqrt(budget) —
    // 6 sigma keeps the flake odds ~1e-9 while catching rate bugs
    assert(math.abs(pairs.size - 200L) <= 6 * math.sqrt(200.0),
      s"kept ${pairs.size}, expected ~200")
    // keep-all branch: budget above the total makes the sample the dump
    val all = Linkage.edSimJoinSample(spark, Sf, budget = dump.size + 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(all === dump)
    // pinned md5 draw: a re-run keeps exactly the same pairs
    val again = Linkage.edSimJoinSample(spark, Sf, budget = 200L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again === pairs)
  }

  test("rep-pair memo: corpus rewrite + SessionMemo.reset serves the new corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edmemo").toString
    Seq((1L, "alphabeta"), (2L, "alphabetx"))
      .toDF("c_custkey", "c_name").write.parquet(s"$dir/customer.parquet")
    val before = Linkage.edSimJoin(spark, dir).count()
    assert(before === 1L)
    // rewrite the corpus in-session: without the reset seam the pinned
    // rep-pair memo would keep serving the old blocking
    Seq((1L, "alphabeta"), (2L, "alphabetx"), (3L, "alphabetz"))
      .toDF("c_custkey", "c_name").write.mode("overwrite")
      .parquet(s"$dir/customer.parquet")
    SessionMemo.reset()
    assert(Linkage.edSimJoin(spark, dir).count() === 3L)
  }

  test("tau=2 completeness: equal-length ins+del pairs (shifted grams) are found") {
    // the r16-advice hole: at tau >= 2 an EQUAL-length pair can be one
    // insertion + one deletion ("abcdefgh" -> "bcdefgha": delete the
    // front 'a', append it — lev 2, every position differs, so every
    // shared gram sits at a SHIFTED position). The old dl==0 => d==0
    // probe rule generated no candidate for such pairs.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tau2").toString
    val names = Seq(
      (1L, "abcdefgh"), (2L, "bcdefgha"), // the shifted pair, lev = 2
      (3L, "abcdefgx"),                   // lev 1 from #1
      (4L, "qrstuvwx"), (5L, "zzzzyyyy")) // far fillers
    names.toDF("c_custkey", "c_name").write.parquet(s"$dir/customer.parquet")
    val truth = (for {
      (ka, na) <- names; (kb, nb) <- names if ka < kb
      d = lev(na, nb) if d <= 2
    } yield (ka, kb, d)).toSet
    assert(truth.contains((1L, 2L, 2)), "the planted shifted pair must be in scope")
    // both engines: the one-shot blocking join and the incremental fold
    val oneShot = Linkage.edSimJoin(spark, dir, tau = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(oneShot === truth)
    // split the shifted pair ACROSS batches: the late name's probes must
    // hit the early name's STANDING postings at the shifted positions
    val st = Linkage.edInsertBatch(
      Linkage.edInsertBatch(Linkage.edStateInit(spark),
        Seq(names(0), names(3)).toDF("key", "nm"), tau = 2),
      Seq(names(1), names(2), names(4)).toDF("key", "nm"), tau = 2)
    val incPairs = st.filter(col("kind") === "p")
      .select(col("na"), col("nb"), col("dist")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val nameTruth = truth.map { case (ka, kb, d) =>
      val (na, nb) = (names.toMap.apply(ka), names.toMap.apply(kb))
      (if (na < nb) na else nb, if (na < nb) nb else na, d)
    }
    assert(incPairs === nameTruth)
  }

  test("x191 classifies every planted clone/source pair as a match") {
    val rows = Linkage.fsLinkage(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getString(6)))
    val planted = spark.read.parquet(s"$Sf/customer.parquet")
      .select(col("c_custkey")).collect().map(_.getLong(0))
      .filter(k => ((k % 50) + 50) % 50 == 7)
    assert(planted.nonEmpty)
    planted.foreach { k =>
      val hit = rows.find(r => r._1 == k + 1000000000L && r._2 == k)
      assert(hit.isDefined, s"planted pair for $k missing")
      val (_, _, nameLvl, acct, seg, w, status) = hit.get
      // clone = 1 substitution + 17 cents + same segment
      assert(nameLvl === 1 && acct === 1 && seg === 1)
      assert(w === 24 + 12 + 5)
      assert(status === "match")
    }
    // weights are always consistent with the agreement vector
    rows.foreach { case (_, _, n, a, g, w, st) =>
      val expect = (if (n == 2) 40 else if (n == 1) 24 else -20) +
        (if (a == 1) 12 else -8) + (if (g == 1) 5 else -6)
      assert(w === expect)
      assert(st === (if (w >= 40) "match" else "possible"))
      assert(w >= 15)
    }
  }

  test("x193 mutual-best assignment is one-to-one and equals the reference") {
    val scored = Linkage.fsLinkage(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(5)))
    val bestOfClone = scored.groupBy(_._1).map { case (c, es) =>
      c -> es.minBy { case (_, k, w) => (-w, k) }._2
    }
    val bestOfCand = scored.groupBy(_._2).map { case (k, es) =>
      k -> es.minBy { case (c, _, w) => (-w, c) }._1
    }
    val truth = bestOfClone.collect {
      case (c, k) if bestOfCand(k) == c => (c, k)
    }.toSet
    val got = Linkage.mutualBestMatch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet === truth)
    // one-to-one on both sides
    assert(got.map(_._1).distinct.length === got.length)
    assert(got.map(_._2).distinct.length === got.length)
    // every planted clone resolves to its source on this fixture
    got.foreach { case (c, k) => assert(c - 1000000000L === k) }
  }

  test("x217 clusters: exact clones and ed-1 neighbors share a component, far names are absent") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_edcl").toString
    Seq(
      (1L, "alpha one"),  // ...
      (2L, "alpha one"),  // exact clone of 1 (same-name group)
      (3L, "alpha onf"),  // one substitution from "alpha one"
      (4L, "zzzz nine"),  // no tau=1 neighbor -> singleton, not a row
      (5L, "gamma fat"),  // pairs with 6 through the rep graph
      (6L, "gamma fab"))
      .toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val got = Linkage.edClusters(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet === Set(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (5L, 5L, 2L), (6L, 5L, 2L)),
      s"got ${got.toSeq}")
  }
}
