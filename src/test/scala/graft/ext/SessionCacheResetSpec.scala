package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.SessionMemo

/** The in-session corpus-rewrite contract for the session memos
  * (`Dedup.vpairCache`, `Retrieval.mmrCache`/`indexCache`,
  * `TextAnalysis.bpeCache`, `Graph.edgeCache`): a (session, dir)-keyed
  * pinned memo must be droppable via `SessionMemo.reset`, or a rewritten
  * corpus dir would be served stale results forever (the
  * LinkageSpec / SaArtifactSpec pattern).
  */
class SessionCacheResetSpec extends SparkSpec {

  import spark.implicits._

  test("Dedup.vpairCache: corpus rewrite + reset serves the new corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vpair").toString
    val ta = (0 until 30).map(i => s"tok$i").mkString(" ")
    Seq((0L, ta, "s0"), (1L, ta + " tailx", "s0"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val before = Dedup.jaccardTopk(spark, dir).count()
    assert(before === 1L)
    // rewrite in-session: add a third near-identical doc
    Seq((0L, ta, "s0"), (1L, ta + " tailx", "s0"), (2L, ta + " taily", "s0"))
      .toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    SessionMemo.reset()
    assert(Dedup.jaccardTopk(spark, dir).count() === 3L,
      "after reset the pair memo must reflect the rewritten corpus")
  }

  test("Retrieval indexCache + mmrCache: corpus rewrite + reset is observable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    def docs(n: Int) = (0 until n).map(i =>
      (i.toLong, s"alpha bravo tok$i tok${i + 1} tok${i + 2}", "s0"))
    docs(8).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val vecs = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(8)(d => (1.0f / (1 + i + d))), 0))
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    def mmrStep1(): Long = Retrieval
      .mmrRerank(spark, dir, numQueries = 1, poolN = 4, k = 3)
      .filter(col("step") === 1).head().getAs[Long]("doc_id")
    assert(Retrieval.bm25Topk(spark, dir, numQueries = 1, k = 3).count() === 3L)
    assert(mmrStep1() <= 7L)
    // rewrite: more docs, and a new vector colinear with the query (so
    // its cosine is exactly 1.0 — the unambiguous step-1 pick)
    docs(12).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (vecs ++ Seq((20L, Array.tabulate(8)(d => 2.0f / (1 + d)), 0)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    SessionMemo.reset()
    // SAME mmr params as before — without the reset this would be a
    // memo hit serving the old pool; the bm25 call exercises the
    // (session, dir)-keyed index memo the same way
    assert(mmrStep1() === 20L,
      "after reset the MMR memo must reflect the rewritten embeddings")
    assert(Retrieval.bm25Topk(spark, dir, numQueries = 1, k = 20).count() === 11L,
      "after reset the BM25 index must rank the rewritten corpus")
  }

  test("TextAnalysis.bpeCache: corpus rewrite + reset retrains the merges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    def write(text: String): Unit =
      Seq((0L, text, "s0")).toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def firstMerge(): (String, String) = {
      val r = TextAnalysis.bpeTrainMerges(spark, dir, rounds = 1).head()
      (r.getAs[String]("left_sym"), r.getAs[String]("right_sym"))
    }
    write("aa aa aa")
    assert(firstMerge() === (("a", "a")))
    write("bb bb bb")
    assert(firstMerge() === (("a", "a")), "without a reset the memo serves the old training")
    SessionMemo.reset()
    assert(firstMerge() === (("b", "b")),
      "after reset the merge table must be trained on the rewritten corpus")
  }

  test("Graph.edgeCache: corpus rewrite + reset rebuilds the co-order edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_coorder").toString
    def write(orders: Seq[(Long, Long)]): Unit =
      orders.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val twoBaskets = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
    write(twoBaskets)
    assert(graft.ops.Graph.partPagerank(spark, dir).count() === 2L)
    write(twoBaskets ++ Seq((3L, 3L), (3L, 4L), (4L, 3L), (4L, 4L)))
    assert(graft.ops.Graph.partPagerank(spark, dir).count() === 2L,
      "without a reset the memo serves the old edges")
    SessionMemo.reset()
    assert(graft.ops.Graph.partPagerank(spark, dir).count() === 4L,
      "after reset the edge memo must reflect the rewritten baskets")
  }
}
