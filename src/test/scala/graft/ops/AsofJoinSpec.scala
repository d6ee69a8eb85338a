package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** As-of join semantics on hand-built edges: inclusive <= boundary,
  * latest-wins, no-match NULLs, tolerance cutoff, and one-Exchange plan.
  */
class AsofJoinSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def leftDf = {
    import spark.implicits._
    Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 10:05:00")),
      (3L, 10L, ts("2024-01-01 09:00:00")),
      (4L, 20L, ts("2024-01-01 12:00:00"))
    ).toDF("id", "k", "ts")
  }

  private def rightDf = {
    import spark.implicits._
    Seq(
      (10L, ts("2024-01-01 10:00:00"), 100.0),
      (10L, ts("2024-01-01 10:03:00"), 103.0),
      (10L, ts("2024-01-01 09:30:00"), 93.0)
    ).toDF("k", "rts", "price")
  }

  private def run(tolerance: Option[org.apache.spark.sql.Column] = None) =
    AsofJoin.asofJoin(leftDf, rightDf, Seq("k"), "ts", "rts",
      Map("price" -> "price"), tolerance)
      .collect().map(r => r.getLong(1) -> // output order: k, id, ts, matched_ts, price
        (Option(r.getTimestamp(3)).map(_.toString), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toMap

  test("backward as-of matches latest right at or before left, null when none") {
    val got = run()
    // id 1: right at exactly 10:00 matches (inclusive <=)
    assert(got(1L) == (Some("2024-01-01 10:00:00.0"), Some(100.0)))
    // id 2: 10:03 is the latest of three candidates
    assert(got(2L) == (Some("2024-01-01 10:03:00.0"), Some(103.0)))
    // id 3: 09:00 predates every right row -> no match
    assert(got(3L) == (None, None))
    // id 4: key 20 has no right rows at all
    assert(got(4L) == (None, None))
  }

  test("tolerance nulls matches older than the lookback") {
    val got = run(Some(expr("INTERVAL 2 MINUTES")))
    assert(got(1L) == (Some("2024-01-01 10:00:00.0"), Some(100.0)), "0 min lag kept")
    assert(got(2L) == (Some("2024-01-01 10:03:00.0"), Some(103.0)), "2 min lag kept")
    assert(got(3L) == (None, None))
  }

  test("as-of join plans exactly one Exchange (the key shuffle)") {
    val plan = AsofJoin.asofJoin(leftDf, rightDf, Seq("k"), "ts", "rts",
      Map("price" -> "price")).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected the single key shuffle, got $exchanges:\n$plan")
  }

  test("forward as-of matches earliest right at or after left; one Exchange; tolerance") {
    def runFwd(tol: Option[org.apache.spark.sql.Column]) =
      AsofJoin.asofJoin(leftDf, rightDf, Seq("k"), "ts", "rts",
        Map("price" -> "price"), tol, forward = true)
        .collect().map(r => r.getLong(1) ->
          (Option(r.getTimestamp(3)).map(_.toString),
            if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        .toMap
    val got = runFwd(None)
    // id 1 (10:00): right at exactly 10:00 matches (inclusive >=)
    assert(got(1L) == (Some("2024-01-01 10:00:00.0"), Some(100.0)))
    // id 2 (10:05): nothing later -> no match
    assert(got(2L) == (None, None))
    // id 3 (09:00): earliest later right is 09:30
    assert(got(3L) == (Some("2024-01-01 09:30:00.0"), Some(93.0)))
    // id 4: key 20 has no right rows
    assert(got(4L) == (None, None))
    // tolerance: 09:00 -> 09:30 is 30 min away, nulled at a 10-min cap
    val tight = runFwd(Some(expr("INTERVAL 10 MINUTES")))
    assert(tight(3L) == (None, None))
    assert(tight(1L) == (Some("2024-01-01 10:00:00.0"), Some(100.0)))
    val plan = AsofJoin.asofJoin(leftDf, rightDf, Seq("k"), "ts", "rts",
      Map("price" -> "price"), forward = true).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"forward variant keeps the single key shuffle:\n$plan")
  }

  test("composite-key as-of joins group on all key columns") {
    import spark.implicits._
    val l = Seq(
      (1L, 10L, "A", ts("2024-01-01 10:00:00")),
      (2L, 10L, "B", ts("2024-01-01 10:00:00"))).toDF("id", "k1", "k2", "ts")
    val r = Seq(
      (10L, "A", ts("2024-01-01 09:00:00"), 1.0),
      (10L, "B", ts("2024-01-01 09:30:00"), 2.0)).toDF("k1", "k2", "rts", "price")
    val got = AsofJoin.asofJoin(l, r, Seq("k1", "k2"), "ts", "rts", Map("price" -> "price"))
      .collect().map(x => x.getLong(2) -> x.getDouble(5)).toMap // k1,k2,id,ts,matched_ts,price
    assert(got == Map(1L -> 1.0, 2L -> 2.0),
      "rows must only match within their full composite key group")
  }

  test("randomized as-of joins match the brute-force reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = ts("2024-01-01 00:00:00").getTime
    def t(off: Long) = new Timestamp(base + off * 1000)
    for (_ <- 1 to 3) {
      val left = (1 to 120).map(i =>
        (i.toLong, rnd.nextInt(8).toLong, t(rnd.nextInt(10000).toLong)))
      // right side unique per (key, ts) by construction of the generator
      val right = rnd.shuffle((0 until 8).flatMap(k =>
        rnd.nextInt(20).until(10000, 137).map(off =>
          (k.toLong, t(off.toLong), rnd.nextDouble())))).toSeq
      val l = left.toDF("id", "k", "ts")
      val r = right.toDF("k", "rts", "price")
      val got = AsofJoin.asofJoin(l, r, Seq("k"), "ts", "rts", Map("price" -> "price"))
        .collect().map(x => x.getLong(1) ->
          (Option(x.getTimestamp(3)), if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toMap
      val byKey = right.groupBy(_._1)
      val expected = left.map { case (id, k, lts) =>
        val cand = byKey.getOrElse(k, Seq.empty).filter(!_._2.after(lts))
        id -> (if (cand.isEmpty) (None, None)
               else { val m = cand.maxBy(_._2.getTime); (Some(m._2), Some(m._3)) })
      }.toMap
      assert(got == expected)
    }
  }

  test("graded query matches a window-free reference computation") {
    val got = AsofJoin.clickAsofView(spark, Sf)
    val ev = graft.engine.Tables(spark, Sf, "events")
    import spark.implicits._
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts").as[(Long, Long, Timestamp)].collect()
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts")).agg(max("value").as("v"))
      .as[(Long, Timestamp, Double)].collect()
      .groupBy(_._1)
    val expected = clicks.map { case (id, u, t) =>
      val cand = views.getOrElse(u, Array.empty)
        .filter(!_._2.after(t))
      id -> (if (cand.isEmpty) None else Some(cand.maxBy(_._2.getTime)._2))
    }.toMap
    val actual = got.select("event_id", "matched_ts").collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
    assert(actual == expected)
  }
}
