package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.engine.Tables
import graft.plans.TopKPerKey

/** Relational operator suite over the TPC-H-ish test tables.
  *
  * Each entry re-expresses one operator family from the reference pipeline
  * (SURVEY.md §2: scans S1-S2, predicates P2, joins J1-J5, aggregations
  * A1-A4, surrogate keys §2.5, plus the join/set-op/window breadth a
  * complete engine needs). Every query:
  *   - is a declarative DataFrame plan (Catalyst does pushdown/pruning);
  *   - broadcasts dimension legs explicitly (dims are tiny at any SF;
  *     fact-fact legs stay shuffle joins for 100 TB scale);
  *   - casts money sums through DecimalType so results are exact and
  *     order-independent (double sums are not associative — they would
  *     hash-mismatch a DuckDB oracle run), then casts the FINAL output
  *     column to DOUBLE: decimal->double is correctly rounded and
  *     engine-independent, where decimal materialization (parquet
  *     fixed-len byte arrays vs DuckDB hugeints) is not;
  *   - ends in a deterministic ORDER BY so output is reproducible.
  */
object Relational {

  /** Money/quantity doubles (2-dp in the data) -> exact decimal. */
  private val M = DecimalType(18, 6)

  private def dec(c: Column): Column = c.cast(M)
  private def ts(s: String): Column = to_timestamp(lit(s), "yyyy-MM-dd HH:mm:ss")
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  // ---------------------------------------------------------------- queries

  /** A1/A4-family: multi-aggregate groupBy (TPC-H Q1 shape).
    * Map-side partial aggregation + single shuffle on the (tiny) group key.
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast(M)).cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** S2/P2: the reference's incremental windowed scan — closed interval on
    * the event-time column, pushed down to the parquet scan
    * (reference `dags/flights_data_pipeline.py:102-109`).
    */
  def incrWindowScan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate").between(ts("1997-03-01 00:00:00"), ts("1997-03-07 23:59:59")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("l_quantity"), col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** S1/P1: full scan + projection + predicate; Catalyst prunes columns at
    * the parquet reader (ReadSchema) and pushes the filter.
    */
  def scanProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === lit("R"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Sort/limit top-k: revenue per order, deterministic tie-break on key.
    * The limit is pushed into a TakeOrderedAndProject — no global sort.
    */
  def topkRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    li.groupBy(col("l_orderkey"))
      .agg(sum((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast(M)).cast(DoubleType).as("revenue"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** J1/J2: fact ⋈ fact ⋈ broadcast dims (star join), revenue by region and
    * nation. lineitem⋈orders is the shuffle leg; customer/nation/region are
    * broadcast so the star lookup adds zero shuffles.
    */
  def joinStar(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast(M)).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** J4: left join preserving zero-match rows (the reference's
    * fct_seat_occupied_daily must keep flights with zero passengers).
    * count(o_orderkey) counts only matches — zeros survive.
    */
  def leftJoinZeroCounts(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))
  }

  /** Left-semi join (EXISTS): customers holding at least one 'F' order. */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === lit("F"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join (NOT EXISTS): customers with no pending orders. */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === lit("P"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Full-outer join completing the join-type family (inner/left/semi/
    * anti/full): suppliers below key 60 reconciled against lineitem
    * activity at key 40+, so the result carries left-only rows (null
    * activity), right-only rows (null name), and the matched band —
    * the reconciliation-report shape (who is missing from which side).
    */
  def fullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
      .filter(col("s_suppkey") < 60)
      .select(col("s_suppkey").as("k"), col("s_name"))
    val act = t(s, dir, "lineitem")
      .filter(col("l_suppkey") >= 40)
      .groupBy(col("l_suppkey").as("k"))
      .agg(count(lit(1)).as("n_items"))
    sup.join(act, Seq("k"), "full_outer")
      .select(col("k"), col("s_name"), col("n_items"))
      .orderBy(col("k"))
  }

  /** Running distinct-user counts per event_type by day. Spark's window
    * functions don't support COUNT(DISTINCT ...) OVER — the standard
    * emulation reduces each (type, user) to its FIRST day (one
    * aggregate), counts first-appearances per day, and prefix-sums:
    * mathematically identical, and two cheap shuffles instead of a
    * quadratic re-scan per frame.
    */
  def windowedDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    t(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_new_users"))
      .withColumn("n_distinct_users_cum", sum(col("n_new_users")).over(w))
      .orderBy(col("event_type"), col("day"))
  }

  /** A3: dimension dedup — the reference's dim_passenger SELECT DISTINCT
    * (reconstructed, SURVEY.md §2.4 A3).
    */
  def dedupDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"))
      .distinct()
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  /** §2.5: deterministic surrogate keys / latest-row-per-key via
    * row_number() over an explicit ordering (never
    * monotonically_increasing_id — not reproducible by an oracle).
    */
  def windowLatestOrder(s: SparkSession, dir: String): DataFrame = {
    TopKPerKey.ranked(t(s, dir, "orders"), Seq(col("o_custkey")),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc), 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_custkey"))
  }

  /** Running (cumulative) aggregate window per key. */
  def windowRunningSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("running_spend", sum(dec(col("o_totalprice"))).over(w).cast(DoubleType))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** A2: capacity-style count per group (seats per aircraft analog). */
  def groupCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"), sum(col("p_size").cast(LongType)).as("total_size"))
      .orderBy(col("p_brand"))

  /** Set op: UNION (distinct) of two key sets. */
  def setUnion(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer").filter(col("c_mktsegment") === lit("BUILDING"))
      .select(col("c_custkey"))
    val b = t(s, dir, "orders").filter(col("o_orderstatus") === lit("P"))
      .select(col("o_custkey").as("c_custkey"))
    a.union(b).distinct().orderBy(col("c_custkey"))
  }

  /** Set op: INTERSECT of the same two key sets. */
  def setIntersect(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer").filter(col("c_mktsegment") === lit("BUILDING"))
      .select(col("c_custkey"))
    val b = t(s, dir, "orders").filter(col("o_orderstatus") === lit("P"))
      .select(col("o_custkey").as("c_custkey"))
    a.intersect(b).orderBy(col("c_custkey"))
  }

  /** Set op: EXCEPT of the same two key sets. */
  def setExcept(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer").filter(col("c_mktsegment") === lit("BUILDING"))
      .select(col("c_custkey"))
    val b = t(s, dir, "orders").filter(col("o_orderstatus") === lit("P"))
      .select(col("o_custkey").as("c_custkey"))
    a.except(b).orderBy(col("c_custkey"))
  }

  /** ROLLUP hierarchy totals (region -> nation -> grand total). */
  def rollupCounts(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  /** CUBE over both grouping axes with an explicit grouping marker —
    * the full lattice q16's ROLLUP only walks one path of. GROUPING()
    * flags disambiguate real NULL keys from subtotal rows.
    */
  def cubeCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        grouping(col("o_orderstatus")).cast(LongType).as("g_status"),
        grouping(col("o_orderpriority")).cast(LongType).as("g_priority"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"),
        col("g_status"), col("g_priority"))

  /** Sliding row-frame window: per-supplier moving sum over the last 4
    * shipments (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) under a total
    * order, summed as exact decimals so both engines hash identically.
    */
  def movingWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(-3, Window.currentRow)
    t(s, dir, "lineitem")
      .filter(col("l_suppkey") < 5)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        sum(dec(col("l_quantity"))).over(w).cast(DoubleType).as("moving_qty"))
      .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
  }

  /** SQL front-end entry (the `spark.sql` path): correlated EXISTS and a
    * scalar subquery over temp views — Catalyst rewrites EXISTS to a
    * semi join and the scalar subquery to a single-row broadcast, the
    * same physical plans the DataFrame spellings get.
    */
  def sqlExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c_custkey, c_name
        |FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > (SELECT max(o_totalprice) FROM orders_v) * 0.5)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** x181: RECURSIVE CTE (Spark 4's `WITH RECURSIVE` / UnionLoop
    * execution) — synthetic halving ancestry over the real customer
    * keys: anchor = every custkey >= 2, step = anc -> anc DIV 2 while
    * anc >= 2, so each key contributes its full chain down to 1
    * (depth <= log2(maxKey)). Exercises the iterative-plan surface the
    * engine otherwise expresses with unrolled checkpoint loops (x82's
    * discipline) — here the PLANNER owns the loop. Integer-only
    * arithmetic (`DIV`, floor for nonnegatives) so the twin's `//`
    * matches exactly.
    */
  def recursiveAncestry(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    cust.createOrReplaceTempView("customer_rc_v")
    // Spark's cteRecursionRowLimit guards runaway recursions at a FIXED
    // 1 M rows — which this lane's total output crosses by design at the
    // 60 M-row decade (measured: RECURSION_ROW_LIMIT_EXCEEDED at the
    // 100x corpus). The real safety invariant is data-relative: each key
    // contributes ≤ ⌈log2(maxKey)⌉ chain rows, so n·64 bounds ANY key
    // width long can hold. Scale the limit to that bound (never below
    // the stock default, so small corpora keep stock behavior); the
    // level limit stays stock — depth is log-bounded regardless of n.
    val bound = math.max(1000000L, cust.count() * 64L)
    if (s.conf.get("spark.sql.cteRecursionRowLimit", "1000000").toLong < bound)
      s.conf.set("spark.sql.cteRecursionRowLimit", bound.toString)
    s.sql(
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS custkey, c_custkey DIV 2 AS anc, 1 AS depth
        |  FROM customer_rc_v WHERE c_custkey >= 2
        |  UNION ALL
        |  SELECT custkey, anc DIV 2 AS anc, depth + 1 FROM anc WHERE anc >= 2)
        |SELECT custkey, CAST(count(*) AS BIGINT) AS n_anc,
        |  CAST(sum(anc) AS BIGINT) AS anc_sum, max(depth) AS max_depth
        |FROM anc GROUP BY custkey ORDER BY custkey""".stripMargin)
  }

  /** Arbitrary GROUPING SETS — the general form rollup (q20) and cube
    * (q30) are shorthands of: here (flag, status), (flag) and the grand
    * total, skipping the (status)-only set a cube would add. Spark
    * expands the sets in a single Expand + one hash-aggregate (one
    * shuffle), not one pass per set; `grouping()` flags disambiguate
    * real NULLs from subtotal rows.
    */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem_v
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin)
  }

  /** Scalar subqueries, correlated and uncorrelated: the per-order item
    * count is a correlated scalar (decorrelated by Catalyst into a left
    * outer aggregate join — no per-row re-execution), the average price
    * gate an uncorrelated scalar evaluated once and broadcast.
    */
  def scalarSubqueries(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT o_orderkey, o_orderstatus,
        |  CAST((SELECT count(*) FROM lineitem_v l
        |        WHERE l.l_orderkey = o.o_orderkey) AS BIGINT) AS n_items
        |FROM orders_v o
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders_v) * 1.8
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** NULL semantics: null-safe equality, COALESCE/NULLIF, and aggregate
    * null-skipping — the P5 family made explicit.
    */
  def nullSemantics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("pri_or_null",
        when(col("o_orderpriority") === "1-URGENT", col("o_orderpriority")))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(col("pri_or_null")).as("n_urgent"),
        count(lit(1)).as("n_total"),
        sum(when(col("pri_or_null") <=> lit(null), 1L).otherwise(0L)).as("n_null_safe_eq"),
        coalesce(max(nullif(col("o_orderpriority"), lit("1-URGENT"))), lit("none"))
          .as("max_non_urgent"))
      .orderBy(col("o_orderstatus"))

  /** Array aggregation: per market segment, the sorted distinct set of
    * order priorities its customers used — collect_set is
    * order-nondeterministic, so sort_array canonicalizes, and the array
    * is emitted as a joined string (the driver's pandas compare cannot
    * sort list-typed columns).
    */
  def arrayAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        array_join(sort_array(collect_set(col("o_orderpriority"))), ",").as("priorities"),
        countDistinct(col("o_orderpriority")).as("n_priorities"))
      .orderBy(col("c_mktsegment"))

  /** Pivot to wide: order counts per status x priority, priorities as
    * explicit columns (explicit value list — at scale an implicit pivot
    * would need an extra distinct pass to discover them).
    */
  def pivotWide(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("o_orderstatus"))

  /** F1-family: calendar bucketing (year/month + month truncation). */
  def dateBuckets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).cast(LongType).as("o_year"),
        month(col("o_orderdate")).cast(LongType).as("o_month"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
      .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"))
      .orderBy(col("o_year"), col("o_month"))

  /** F4-family: interval arithmetic — shipping delay in days, averaged.
    * avg computed as exact-decimal sum -> double divide so both engines
    * produce bit-identical doubles.
    */
  def shipDelay(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_days", datediff(col("l_shipdate"), col("o_orderdate")).cast(LongType))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("delay_days")).as("sum_delay_days"),
        (sum(col("delay_days")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avg_delay_days"))
      .orderBy(col("o_orderpriority"))
  }

  /** DecimalType money semantics (the reference's numeric(10,2) columns,
    * SURVEY.md §1.3): exact 2-dp sums grouped by status.
    */
  def moneyDecimal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType).as("total_amount"),
        min(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType).as("min_amount"),
        max(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType).as("max_amount"))
      .orderBy(col("o_orderstatus"))

  /** A4: booking-grain rollup (per-order item counts + amounts) joined back
    * to the order header — the reference's fct_booking_ticket shape.
    */
  def orderRollup(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val per = li.groupBy(col("l_orderkey")).agg(
      count(lit(1)).as("n_items"),
      sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
    o.join(per, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"),
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        coalesce(col("sum_qty"), lit(0).cast(DoubleType)).as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** J3: one fact joined twice to the same dimension under two aliases
    * (the reference's departure/arrival airport double-join).
    * Here: customer nation vs supplier nation per lineitem.
    */
  def selfAliasedDimJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val sup = t(s, dir, "supplier")
    val n1 = t(s, dir, "nation").select(
      col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val n2 = t(s, dir, "nation").select(
      col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
      .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(count(lit(1)).as("n_items"),
        sum((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast(M)).cast(DoubleType).as("revenue"))
      .orderBy(col("cust_nation"), col("supp_nation"))
  }

  /** Rank-family windows: percent_rank and cume_dist under a TOTAL order
    * (value then key — rank functions are deterministic only with a full
    * tie-break). Both reduce to exact integer rank arithmetic divided as
    * doubles, so the engines agree bitwise.
    */
  def rankFamilies(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        rank().over(w).cast(LongType).as("rnk"))
      .orderBy(col("o_orderkey"))
  }

  /** Lag-delta analysis: per customer, days since the previous order and
    * a new-burst flag (gap >= 30 days) — the sessionization primitive in
    * its batch window form.
    */
  def orderGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast(LongType).as("days_since_prev"),
        (coalesce(datediff(col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(w)), lit(9999)) >= 30).as("new_burst"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** min_by / max_by aggregates with a composite (value, key) ordering
    * argument so ties resolve identically on both engines.
    */
  def argExtremes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
          .as("max_price_orderkey"),
        min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
          .as("min_price_orderkey"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_totalprice")).as("min_price"))
      .orderBy(col("o_orderstatus"))

  /** Gaps-and-islands interval coalescing: per supplier, merge the
    * overlapping-or-touching shipment-activity intervals of its
    * high-volume shipments into maximal covered spans (the interval end
    * is a deterministic transit duration derived from the quantity —
    * this lineitem has no receipt date column). A new island starts
    * where an interval's start exceeds the running max of every earlier
    * interval's end (ROWS frame to 1 PRECEDING); the island id is the
    * running count of such starts. Both windows partition by supplier —
    * per-group sorts, no global order; the rollup then reuses the same
    * partitioning. The filter keeps interval counts per group small and
    * pushes down to the scan.
    */
  def intervalIslands(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("d_start"), col("d_end"))
    val prevMax = max(col("d_end")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    t(s, dir, "lineitem")
      .filter(col("l_quantity") >= 48)
      .select(col("l_suppkey"), to_date(col("l_shipdate")).as("d_start"),
        expr("date_add(CAST(l_shipdate AS DATE), CAST(l_quantity AS INT) % 20 + 1)").as("d_end"))
      .withColumn("new_island",
        when(prevMax.isNull || col("d_start") > prevMax, 1L).otherwise(0L))
      .withColumn("island_id",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("l_suppkey"), col("island_id"))
      .agg(min(col("d_start")).as("island_start"),
        max(col("d_end")).as("island_end"),
        count(lit(1)).as("n_intervals"))
      .withColumn("covered_days",
        (datediff(col("island_end"), col("island_start")) + 1).cast(LongType))
      .orderBy(col("l_suppkey"), col("island_id"))
  }

  /** Wide-to-long unpivot (the inverse of q36's pivot): one metrics row
    * per (group, measure) from a wide per-group aggregate — `unpivot` is
    * a zero-shuffle Expand over the already-aggregated (tiny) frame, so
    * the cost is the upstream aggregate alone. Measures are cast to
    * DOUBLE before melting (unpivot requires one value type; the decimal
    * sums go through the standard exact-then-double discipline).
    */
  def unpivotLong(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"),
        count(lit(1)).cast(DoubleType).as("n_items"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("sum_qty"), col("sum_price"), col("n_items")),
        variableColumnName = "metric",
        valueColumnName = "value")
      .orderBy(col("l_returnflag"), col("metric"))

  // -------------------------------------------------------------- registry

  /** x202: insert-only incremental maintenance of the lineitem⋈orders
    * view ([[graft.engine.IncrementalView]]) — both tables arrive as 3
    * deterministic batches (pinned hash splits), each batch contributes
    * ΔV = ΔL⋈O_old ∪ L_old⋈ΔO ∪ ΔL⋈ΔO, and the union of the deltas is
    * the view. The DuckDB oracle is the MONOLITHIC join, so the gate
    * proves maintained == rebuilt bit-for-bit (every row must appear
    * exactly once — a duplicate or missed delta term hash-fails).
    */
  def ivmJoin(s: SparkSession, dir: String, batches: Int = 3): DataFrame = {
    val l = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(batches.toLong))
          .as("bt"))
    val o = t(s, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"),
        pmod(col("o_orderkey"), lit(batches.toLong)).as("bt"))
    val steps = (0 until batches).map { bt =>
      (l.filter(col("bt") === bt).drop("bt"),
        o.filter(col("bt") === bt).drop("bt"))
    }
    graft.engine.IncrementalView.maintain(steps, Seq("l_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("o_orderpriority"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q83: null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    * SQL-surface row the star joins never exercise because warehouse
    * keys are NOT NULL. Nullable keys are derived (every 7th key maps
    * to NULL), both sides pre-aggregate to one row per key (so the
    * NULL<=>NULL match is one row, not a null-group cross product —
    * the shape any production null-safe join should take), and the
    * join keeps the NULL row that a plain `=` would drop.
    * EqualNullSafe is a valid hash-join key in Spark — no
    * BroadcastNestedLoop fallback (PlanAuditSpec sweeps this too).
    */
  def nullsafeJoin(s: SparkSession, dir: String): DataFrame = {
    def side(df: DataFrame, key: String, n: String): DataFrame =
      df.select(when(pmod(col(key), lit(7L)) === 0L, lit(null))
          .otherwise(col(key)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as(n))
    val a = side(t(s, dir, "orders"), "o_custkey", "n_orders")
    val b = side(t(s, dir, "customer"), "c_custkey", "n_customers")
    a.join(b, a("k") <=> b("k"))
      .select(a("k").isNull.as("k_is_null"), a("k").as("k"),
        col("n_orders"), col("n_customers"))
      .orderBy(col("k_is_null").desc, col("k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x202_ivm_join" -> ((s: SparkSession, dir: String) => ivmJoin(s, dir)),
    "q01_pricing_summary" -> (pricingSummary _),
    "q02_incr_window_scan" -> (incrWindowScan _),
    "q03_scan_project" -> (scanProject _),
    "q83_nullsafe_join" -> (nullsafeJoin _),
    "q04_topk_revenue" -> (topkRevenue _),
    "q05_join_star" -> (joinStar _),
    "q06_left_join_zero_counts" -> (leftJoinZeroCounts _),
    "q07_semi_join" -> (semiJoin _),
    "q08_anti_join" -> (antiJoin _),
    "q09_dedup_distinct" -> (dedupDistinct _),
    "q10_window_latest" -> (windowLatestOrder _),
    "q11_window_running_sum" -> (windowRunningSum _),
    "q12_group_count" -> (groupCount _),
    "q13_set_union" -> (setUnion _),
    "q14_set_intersect" -> (setIntersect _),
    "q15_set_except" -> (setExcept _),
    "q16_rollup_counts" -> (rollupCounts _),
    "q17_date_buckets" -> (dateBuckets _),
    "q18_ship_delay" -> (shipDelay _),
    "q19_money_decimal" -> (moneyDecimal _),
    "q20_order_rollup" -> (orderRollup _),
    "q21_self_aliased_dim_join" -> (selfAliasedDimJoin _),
    "q30_cube_counts" -> (cubeCounts _),
    "q31_moving_window" -> (movingWindow _),
    "q32_sql_exists" -> (sqlExistsSubquery _),
    "x181_recursive_cte" -> (recursiveAncestry _),
    "q33_null_semantics" -> (nullSemantics _),
    "q54_grouping_sets" -> (groupingSets _),
    "q55_scalar_subquery" -> (scalarSubqueries _),
    "q35_array_agg" -> (arrayAgg _),
    "q36_pivot_wide" -> (pivotWide _),
    "q45_rank_families" -> (rankFamilies _),
    "q46_order_gaps" -> (orderGaps _),
    "q47_arg_extremes" -> (argExtremes _),
    "q51_full_outer_join" -> (fullOuterJoin _),
    "q52_windowed_distinct" -> (windowedDistinct _),
    "q58_interval_islands" -> (intervalIslands _),
    "q60_unpivot_long" -> (unpivotLong _))

  val oracles: Map[String, String] = Map(
    // x202: the oracle IS the monolithic rebuild — the strongest
    // possible gate for view maintenance.
    "x202_ivm_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_incr_window_scan" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-03-01 00:00:00' AND TIMESTAMP '1997-03-07 23:59:59'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q04_topk_revenue" ->
      """SELECT o_orderkey, o_orderdate, revenue
        |FROM (SELECT l_orderkey,
        |        CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |      FROM lineitem GROUP BY l_orderkey) li
        |JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q05_join_star" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q06_left_join_zero_counts" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin,
    "q07_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q08_anti_join" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "q09_dedup_distinct" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment
        |FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q10_window_latest" ->
      """SELECT o_custkey, o_orderkey, o_orderdate
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |        row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders) x
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "q11_window_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q12_group_count" ->
      """SELECT p_brand, count(*) AS n_parts, CAST(sum(p_size) AS BIGINT) AS total_size
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q83_nullsafe_join" ->
      """WITH a AS (
        |  SELECT CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END AS k,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |b AS (
        |  SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey END AS k,
        |    CAST(count(*) AS BIGINT) AS n_customers
        |  FROM customer GROUP BY 1)
        |SELECT a.k IS NULL AS k_is_null, a.k, a.n_orders, b.n_customers
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k_is_null DESC, a.k""".stripMargin,
    "q13_set_union" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY c_custkey""".stripMargin,
    "q14_set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY c_custkey""".stripMargin,
    "q15_set_except" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY c_custkey""".stripMargin,
    "q16_rollup_counts" ->
      """SELECT r_name, n_name, count(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "q17_date_buckets" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_month,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1, 2, 3
        |ORDER BY o_year, o_month""".stripMargin,
    "q18_ship_delay" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS BIGINT) AS sum_delay_days,
        |  CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_delay_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q19_money_decimal" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_amount,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_amount,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_amount
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q20_order_rollup" ->
      """SELECT o_orderkey, o_orderstatus,
        |  COALESCE(n_items, 0) AS n_items,
        |  COALESCE(sum_qty, CAST(0 AS DOUBLE)) AS sum_qty
        |FROM orders LEFT JOIN (
        |  SELECT l_orderkey, count(*) AS n_items,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey) li ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "q21_self_aliased_dim_join" ->
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |GROUP BY 1, 2
        |ORDER BY cust_nation, supp_nation""".stripMargin,
    "q30_cube_counts" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
        |  g_status, g_priority""".stripMargin,
    "q31_moving_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_qty
        |FROM lineitem WHERE l_suppkey < 5
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,
    // x181: the identical recursion in DuckDB's WITH RECURSIVE; DIV ↔ //
    // (both floor nonnegative integer division)
    "x181_recursive_cte" ->
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS custkey, c_custkey // 2 AS anc, 1 AS depth
        |  FROM customer WHERE c_custkey >= 2
        |  UNION ALL
        |  SELECT custkey, anc // 2 AS anc, depth + 1 FROM anc WHERE anc >= 2)
        |SELECT custkey, CAST(count(*) AS BIGINT) AS n_anc,
        |  CAST(sum(anc) AS BIGINT) AS anc_sum, CAST(max(depth) AS INT) AS max_depth
        |FROM anc GROUP BY custkey ORDER BY custkey""".stripMargin,
    "q32_sql_exists" ->
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > (SELECT max(o_totalprice) FROM orders) * 0.5)
        |ORDER BY c_custkey""".stripMargin,
    "q33_null_semantics" ->
      """SELECT o_orderstatus,
        |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderpriority END) AS n_urgent,
        |  count(*) AS n_total,
        |  CAST(sum(CASE WHEN (CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderpriority END)
        |             IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_eq,
        |  coalesce(max(nullif(o_orderpriority, '1-URGENT')), 'none') AS max_non_urgent
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q54_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,
    "q55_scalar_subquery" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST((SELECT count(*) FROM lineitem l
        |        WHERE l.l_orderkey = o.o_orderkey) AS BIGINT) AS n_items
        |FROM orders o
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.8
        |ORDER BY o_orderkey""".stripMargin,
    "q35_array_agg" ->
      """SELECT c_mktsegment,
        |  array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities,
        |  count(DISTINCT o_orderpriority) AS n_priorities
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q45_rank_families" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  CAST(rank() OVER w AS BIGINT) AS rnk
        |FROM orders WHERE o_orderkey < 3000
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q46_order_gaps" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(date_diff('day',
        |    CAST(lag(o_orderdate, 1) OVER w AS DATE),
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev,
        |  COALESCE(date_diff('day',
        |    CAST(lag(o_orderdate, 1) OVER w AS DATE),
        |    CAST(o_orderdate AS DATE)), 9999) >= 30 AS new_burst
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q47_arg_extremes" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |  FROM orders),
        |agg AS (SELECT o_orderstatus, max(o_totalprice) AS max_price,
        |        min(o_totalprice) AS min_price FROM orders GROUP BY 1)
        |SELECT a.o_orderstatus,
        |  mx.o_orderkey AS max_price_orderkey,
        |  mn.o_orderkey AS min_price_orderkey,
        |  a.max_price, a.min_price
        |FROM agg a
        |JOIN (SELECT o_orderstatus, o_orderkey FROM r WHERE rmax = 1) mx USING (o_orderstatus)
        |JOIN (SELECT o_orderstatus, o_orderkey FROM r WHERE rmin = 1) mn USING (o_orderstatus)
        |ORDER BY a.o_orderstatus""".stripMargin,
    "q36_pivot_wide" ->
      """SELECT o_orderstatus,
        |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS "1-URGENT",
        |  count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS "2-HIGH",
        |  count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
        |  count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
        |  count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS "5-LOW"
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q51_full_outer_join" ->
      """SELECT k, s_name, n_items
        |FROM (SELECT s_suppkey AS k, s_name FROM supplier WHERE s_suppkey < 60) sup
        |FULL OUTER JOIN (SELECT l_suppkey AS k, count(*) AS n_items
        |                 FROM lineitem WHERE l_suppkey >= 40 GROUP BY 1) act
        |USING (k)
        |ORDER BY k""".stripMargin,
    "q52_windowed_distinct" ->
      """WITH first_seen AS (
        |  SELECT event_type, user_id, min(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY event_type, user_id),
        |per_day AS (
        |  SELECT event_type, day, count(*) AS n_new_users
        |  FROM first_seen GROUP BY event_type, day)
        |SELECT event_type, day, n_new_users,
        |  CAST(sum(n_new_users) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_distinct_users_cum
        |FROM per_day ORDER BY event_type, day""".stripMargin,
    "q58_interval_islands" ->
      """WITH iv AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d_start,
        |    CAST(l_shipdate AS DATE) + to_days(CAST(CAST(l_quantity AS INT) % 20 + 1 AS INT)) AS d_end
        |  FROM lineitem WHERE l_quantity >= 48),
        |m AS (
        |  SELECT l_suppkey, d_start, d_end,
        |    CASE WHEN max(d_end) OVER (PARTITION BY l_suppkey ORDER BY d_start, d_end
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |           OR d_start > max(d_end) OVER (PARTITION BY l_suppkey ORDER BY d_start, d_end
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         THEN 1 ELSE 0 END AS new_island
        |  FROM iv),
        |lab AS (
        |  SELECT l_suppkey, d_start, d_end,
        |    CAST(sum(new_island) OVER (PARTITION BY l_suppkey ORDER BY d_start, d_end
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
        |  FROM m)
        |SELECT l_suppkey, island_id,
        |  min(d_start) AS island_start, CAST(max(d_end) AS DATE) AS island_end,
        |  count(*) AS n_intervals,
        |  CAST(date_diff('day', min(d_start), CAST(max(d_end) AS DATE)) + 1 AS BIGINT) AS covered_days
        |FROM lab GROUP BY l_suppkey, island_id
        |ORDER BY l_suppkey, island_id""".stripMargin,
    // the UNION ALL spelling is the engine-portable unpivot twin
    "q60_unpivot_long" ->
      """WITH w AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
        |    CAST(count(*) AS DOUBLE) AS n_items
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
        |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
        |  UNION ALL SELECT l_returnflag, 'n_items', n_items FROM w)
        |ORDER BY l_returnflag, metric""".stripMargin)
}
