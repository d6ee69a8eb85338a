package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** As-of (temporal) join — the operator a tick/trade pipeline calls
  * `ASOF JOIN`: each left row picks the LATEST right row with
  * `right.ts <= left.ts` in its key group (backward), or the EARLIEST
  * with `right.ts >= left.ts` (forward).
  *
  * Spark-first shape: Spark has no native as-of join, and the naive
  * spelling (range join + per-left-row argmax) explodes into an
  * O(|L| x |R|) theta join. Instead both sides UNION into one stream,
  * one hash shuffle on the key sorts each group by (ts, side) with the
  * right row first at equal timestamps (inclusive <=), and an
  * ignore-nulls `last()` running window carries the most recent right
  * payload onto every left row. One Exchange total, no pair blowup,
  * arbitrarily large groups stream through the window — the plan that
  * survives 100 TB of events.
  */
object AsofJoin {

  /** As-of join, backward by default. The forward direction (pandas
    * merge_asof direction='forward', "what happened next") is the same
    * union-one-shuffle shape with the window sort REVERSED (ts desc, right
    * first at equal ts keeps >= inclusive): the running ignore-nulls
    * `last` then carries the nearest LATER right row onto each left row.
    *
    * @param left      probe side
    * @param right     reference side; must be unique per (by, rightTs) —
    *                  pre-aggregate it otherwise (ties would make the
    *                  match nondeterministic in ANY engine)
    * @param by        equi-key columns
    * @param leftTs    left event-time column
    * @param rightTs   right event-time column
    * @param rightVals right payload columns to carry (renamed as given)
    * @param tolerance optional maximum distance `|left.ts - right.ts|`;
    *                  matches farther than it become NULL
    * @param forward   match the earliest right row at or after left.ts
    */
  def asofJoin(left: DataFrame, right: DataFrame, by: Seq[String],
      leftTs: String, rightTs: String,
      rightVals: Map[String, String],
      tolerance: Option[Column] = None, forward: Boolean = false): DataFrame = {
    val leftCols = left.columns.toSeq
    val carried = rightVals.values.toSeq
    val l = left
      .withColumn("_ts", col(leftTs))
      .withColumn("_side", lit(1))
      .select((by.map(col) ++ Seq(col("_ts"), col("_side")) ++
        leftCols.filterNot(by.contains).map(col) ++
        Seq(lit(null).cast(right.schema(rightTs).dataType).as("_rts")) ++
        carried.map(c => lit(null).cast(right.schema(rightVals.find(_._2 == c).get._1)
          .dataType).as(c))): _*)
    val r = right
      .withColumn("_ts", col(rightTs))
      .withColumn("_side", lit(0))
      .select((by.map(col) ++ Seq(col("_ts"), col("_side")) ++
        leftCols.filterNot(by.contains).map(c =>
          lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(col(rightTs).as("_rts")) ++
        rightVals.map { case (src, dst) => col(src).as(dst) }.toSeq): _*)
    // right row sorts before left at the same timestamp -> inclusive
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(if (forward) col("_ts").desc else col("_ts"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matchedTs = last(col("_rts"), ignoreNulls = true).over(w)
    val withMatch = l.unionByName(r)
      .withColumn("_mts", matchedTs)
      .withColumns(carried.map(c =>
        c -> last(col(c), ignoreNulls = true).over(w)).toMap)
    val inWindow = tolerance match {
      case Some(tol) => col("_mts").isNotNull &&
        (if (forward) col("_mts") - col("_ts") else col("_ts") - col("_mts")) <= tol
      case None => col("_mts").isNotNull
    }
    withMatch
      .filter(col("_side") === 1)
      .select((by.map(col) ++ leftCols.filterNot(by.contains).map(col) ++
        Seq(when(inWindow, col("_mts")).as("matched_ts")) ++
        carried.map(c => when(inWindow, col(c)).as(c))): _*)
  }

  /** Graded query: each click event as-of joins the user's latest
    * prior-or-simultaneous view event (the trades-vs-quotes shape on the
    * events stream). The view side dedups to one row per (user, ts) so
    * the match is a total function on both engines.
    */
  def clickAsofView(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("view_value"))
    asofJoin(clicks, views, Seq("user_id"), "ts", "ts",
      Map("view_value" -> "view_value"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("matched_ts"), col("view_value"))
      .orderBy(col("event_id"))
  }

  /** Graded query: each view's NEXT click by the same user within one
    * hour (forward direction + tolerance — "did the impression convert,
    * and when"). Matches beyond the hour report NULL: the nearest later
    * click being too far means no closer one exists, so a post-filter of
    * the unbounded forward match IS the tolerance semantics (and is
    * exactly how the oracle wraps DuckDB's native ASOF).
    */
  def viewNextClick(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
    asofJoin(views, clicks, Seq("user_id"), "ts", "ts",
      Map("click_value" -> "click_value"),
      tolerance = Some(expr("INTERVAL '1' HOUR")), forward = true)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("matched_ts"), col("click_value"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q38_asof_join" -> (clickAsofView _),
    "q70_asof_forward" -> (viewNextClick _))

  /** DuckDB's native ASOF LEFT JOIN is the oracle — an independent
    * implementation of the same semantics.
    */
  val oracles: Map[String, String] = Map(
    "q38_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, ts, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, c.ts, c.value,
        |  v.ts AS matched_ts, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin,
    "q70_asof_forward" ->
      """WITH views AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
        |clicks AS (
        |  SELECT user_id, ts, max(value) AS click_value FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts),
        |m AS (
        |  SELECT v.event_id, v.user_id, v.ts, v.value,
        |    c.ts AS matched_ts, c.click_value
        |  FROM views v ASOF LEFT JOIN clicks c
        |    ON v.user_id = c.user_id AND v.ts <= c.ts)
        |SELECT event_id, user_id, ts, value,
        |  CASE WHEN matched_ts - ts <= INTERVAL '1' HOUR THEN matched_ts END AS matched_ts,
        |  CASE WHEN matched_ts - ts <= INTERVAL '1' HOUR THEN click_value END AS click_value
        |FROM m ORDER BY event_id""".stripMargin)
}
