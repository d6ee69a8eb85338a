package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps

/** Scalar-function surface (SURVEY.md §2.7): JSON extraction/serialization
  * (the reference's jsonb columns, F2/F5), date/time parts (F1), string
  * functions, and conditional logic. All built-ins — codegen'd, no UDFs.
  */
object Scalars {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Exact money arithmetic type — same discipline as Relational.M. */
  private val M = DecimalType(18, 6)

  /** F2: JSON field extraction (`model ->> 'en'` analog) + aggregation.
    * `events.props` carries a JSON object just like the reference's
    * jsonb columns (reference `dags/flights_data_pipeline.py:87-91`).
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  /** F5: JSON serialization (`json.dumps` analog at the reference's
    * extract/load edges) — struct -> compact JSON text.
    */
  def jsonConstruct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_id") < 100)
      .select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"), col("user_id"))).as("payload"))
      .orderBy(col("event_id"))

  /** x182: the VARIANT path (Spark 4's semi-structured type) — the
    * q22 extraction upgraded from string-probing `get_json_object` to a
    * PARSED open type: `parse_json` once per row, typed `variant_get`
    * probes after (at scale the parse is paid once and every probe is a
    * binary-encoded field walk, not a re-parse — the reason the type
    * exists). Probes a present field as long, the same field as string
    * (VARIANT's cast-on-read), and a MISSING path (null without error —
    * `try_variant_get` semantics via the non-throwing default); the
    * twin does the identical arithmetic with DuckDB's JSON probes.
    */
  def variantExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("v", parse_json(col("props")))
      .withColumn("k", variant_get(col("v"), "$.k", "long"))
      .withColumn("k_str", variant_get(col("v"), "$.k", "string"))
      .withColumn("missing", variant_get(col("v"), "$.not_there", "long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(length(col("k_str"))).as("k_str_len_sum"),
        sum(when(col("missing").isNull, 1L).otherwise(0L)).as("n_missing"))
      .orderBy(col("event_type"))

  /** String functions: case, substring (1-based), length, concat. */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        substring(col("c_name"), 3, 5).as("name_mid"),
        length(col("c_name")).cast(LongType).as("name_len"),
        concat(col("c_mktsegment"), lit("_"), col("c_name")).as("seg_name"))
      .orderBy(col("c_custkey"))

  /** Conditional bucketing (CASE WHEN) + conditional aggregation. */
  def caseWhenBuckets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("price_band",
        when(col("o_totalprice") < 50000, lit("low"))
          .when(col("o_totalprice") < 150000, lit("mid"))
          .otherwise(lit("high")))
      .groupBy(col("price_band"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"))
      .orderBy(col("price_band"))

  /** F1: timestamp parts — hour buckets, day names, epoch seconds. */
  def timeParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        dayofmonth(col("ts")).cast(LongType).as("day"),
        hour(col("ts")).cast(LongType).as("hour_of_day"),
        date_format(col("ts"), "EEEE").as("day_name"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_timestamp(col("ts"))).as("first_epoch"))
      .orderBy(col("day"), col("hour_of_day"))

  /** Closed-interval timestamp window on the events stream table
    * (the reference's daily extract window shape, S2/F1).
    */
  def eventDayWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("ts").between(
        to_timestamp(lit("2024-01-05 00:00:00")),
        to_timestamp(lit("2024-01-05 23:59:59"))))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** Quantile binning (feature discretization): each event lands in its
    * per-type value decile via ntile under a TOTAL order (value, then
    * event_id — rank-based bins are deterministic only with a full
    * tie-break), with per-bin occupancy and bounds. The ML-prep
    * discretizer: one window shuffle per key, no percentile
    * materialization.
    */
  def quantileBinning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    t(s, dir, "events")
      .withColumn("decile", ntile(10).over(w).cast(LongType))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy(col("event_type"), col("decile"))
  }

  /** Time-RANGE window frame — a different semantics from every
    * rows-frame window in the suite: per user, how many events landed in
    * the preceding hour INCLUSIVE of now, however many rows that is.
    * The frame is over epoch seconds (RANGE frames need a numeric
    * order key; both engines see identical integers).
    */
  def slidingHourCounts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-3600L, 0L)
    t(s, dir, "events")
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .withColumn("n_last_hour", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("ts"), col("n_last_hour"))
      .orderBy(col("event_id"))
  }

  /** Ordered event funnel (view -> click -> purchase): per user, the
    * first view, the first click STRICTLY AFTER that view, and the first
    * purchase strictly after that click — the stage-k timestamp depends
    * on stage k-1, which is what distinguishes a funnel from three
    * independent mins. Three conditional aggregates chained by joins on
    * user_id: each stage's frame is the (tiny) per-user stage table, so
    * AQE broadcasts it into the next event scan; the events table is
    * scanned once per stage and never self-joined row-to-row. Users who
    * never viewed are out of the funnel (stage 0) by definition.
    */
  def funnelStages(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(views, "user_id")
      .filter(col("ts") > col("first_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .join(clicks, "user_id")
      .filter(col("ts") > col("first_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
    views
      .join(clicks, Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
      .select(col("user_id"), col("first_view"), col("first_click"), col("first_purchase"),
        (lit(1L) + when(col("first_click").isNotNull, 1L).otherwise(0L)
          + when(col("first_purchase").isNotNull, 1L).otherwise(0L)).as("funnel_stage"))
      .orderBy(col("user_id"))
  }

  /** Moment-based statistics (mean / variance / correlation) from EXACT
    * integer power sums — the distributed-statistics pattern: each of
    * n, Σx, Σy, Σx², Σy², Σxy is a single-pass, map-side-combinable,
    * ORDER-INDEPENDENT aggregate (integer addition is associative-exact,
    * double addition is not), and the statistics assemble from the sums
    * in one final projection. Floating-point `corr`/`stddev` built-ins
    * are order-dependent under partition parallelism and can't be
    * hash-gated cross-engine; this shape can. `value` carries 2 decimal
    * digits, so x = round(value·100) is lossless; the BIGINT moment
    * combinations stay well under 2^53, making every int→double
    * conversion exact and the final double tree bitwise reproducible.
    *
    * The power sums accumulate in DECIMAL(38,0) (the x95
    * `correlationMatrix` discipline), NOT BIGINT: Σx² at the 60 M-row
    * decade already exceeds 2^63 (measured: ARITHMETIC_OVERFLOW at the
    * 100x corpus), while the decimal partials stay exact to 10^38 —
    * ~10^19 rows at these magnitudes — and remain map-side-combinable.
    * The combinations (sxx·n − sx², ≲10^27 here) are likewise exact in
    * decimal; each one converts to double once, correctly rounded, so
    * the final tree is still a fixed sequence of exact-or-once-rounded
    * ops on both engines (the twin runs the same sums in HUGEINT).
    */
  def corrMoments(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val x = round(col("value") * lit(100.0)).cast(LongType).cast(dec)
    val y = get_json_object(col("props"), "$.k").cast(LongType).cast(dec)
    val nD = col("n").cast(DoubleType)
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .select(col("event_type"), col("n"),
        (col("sx").cast(DoubleType) / nD / lit(100.0)).as("mean_value"),
        ((col("sxx") * col("n") - col("sx") * col("sx")).cast(DoubleType)
          / (nD * (nD - lit(1.0))) / lit(10000.0)).as("var_value"),
        ((col("sxy") * col("n") - col("sx") * col("sy")).cast(DoubleType)
          / (sqrt((col("sxx") * col("n") - col("sx") * col("sx")).cast(DoubleType))
            * sqrt((col("syy") * col("n") - col("sy") * col("sy")).cast(DoubleType))))
          .as("corr_vk"))
      .orderBy(col("event_type"))
  }

  /** Calendar resample + forward fill: per user, a contiguous daily spine
    * from their first to last active day; days without events carry the
    * last seen daily max forward (gap_filled marks them). The spine is
    * per-key `sequence()` over day epochs — dimension-sized, never a
    * cross join against the event stream — and the fill is an
    * ignore-nulls running `last` over the one per-user window sort. The
    * standard time-series densification Spark has no native operator for.
    */
  def resampleFfill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(max(col("value")).as("day_max"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last(col("day_max"), ignoreNulls = true).over(w).as("filled_max"),
        col("day_max").isNull.as("gap_filled"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Period-over-period reporting: daily event counts per type with the
    * previous day's count, absolute delta, and percent change — the
    * lag-compare every metrics dashboard runs. pct_change divides two
    * exact BIGINTs once, so the doubles hash-gate; days with no previous
    * observation report NULL (not 0 — absence isn't zero change). One
    * aggregate + one per-type window.
    */
  def periodOverPeriod(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("prev_events", lag(col("n_events"), 1).over(w))
      .select(col("event_type"), col("day"), col("n_events"), col("prev_events"),
        (col("n_events") - col("prev_events")).as("delta"),
        ((col("n_events") - col("prev_events")).cast(DoubleType)
          / col("prev_events").cast(DoubleType)).as("pct_change"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Batch sessionization (gaps-and-islands over event time): a session
    * breaks when a user is idle for more than `gapS` seconds. lag() marks
    * session starts, a running sum numbers them, one aggregate rolls each
    * session up — two window passes and one aggregation, all behind a
    * single hashpartitioning on user_id (the windows and the groupBy
    * share the key, so the Exchange is reused). Per-user partitions, so
    * the sort is bounded by one user's history, never a global order-by —
    * the batch twin of the streaming session windows (s06) and timeout
    * sessions, with an exact SQL oracle those can't have.
    */
  /** Event-level session assignment (the q61/q69 shared core): each
    * event tagged with its user's session_idx under a `gapS`-second idle
    * break. Both windows key on user_id — one Exchange.
    */
  private[ops] def sessionAssigned(s: SparkSession, dir: String,
      gapS: Long = 1800L): DataFrame =
    sessionAssignedDf(
      t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"),
        col("event_type")), gapS)

  /** The assignment over any (event_id, user_id, ts, ...) frame — the
    * form property tests drive with synthetic streams.
    */
  private[ops] def sessionAssignedDf(events: DataFrame, gapS: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .withColumn("new_session",
        when(col("epoch_s") - lag(col("epoch_s"), 1).over(byUser) <= gapS, 0L)
          .otherwise(1L))
      .withColumn("session_idx", sum(col("new_session")).over(byUser))
  }

  def sessionizeBatch(s: SparkSession, dir: String, gapS: Long = 1800L): DataFrame = {
    sessionAssigned(s, dir, gapS)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        (max(col("epoch_s")) - min(col("epoch_s"))).as("duration_s"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** Pareto / ABC classification: per-part revenue, cumulative revenue
    * share in descending-revenue order, and the classic A (top 80% of
    * revenue) / B (next 15%) / C (tail) class. Revenue aggregates in
    * exact DECIMAL(18,6) (the q19 money discipline) and converts to
    * double only for the single share division, so the doubles hash-gate.
    * The heavy input (lineitem) collapses to part grain FIRST; the
    * global cumulative window then runs over a dimension-sized frame —
    * the ranking is inherently total-ordered, but at 100 TB it orders
    * ~part-count rows, not the fact table.
    */
  def paretoAbc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned (r19 optimization round): `rev` feeds the grand total AND
    // the cumulative window — two 600 K-row decimal aggregations
    // without the checkpoint
    val rev = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice").cast(M) * (lit(1) - col("l_discount").cast(M)))
        .cast(M)).as("rev_dec"))
      .pinned
    val total = rev.agg(sum(col("rev_dec")).as("total_dec"))
    val w = Window.orderBy(col("rev_dec").desc, col("l_partkey"))
    rev.crossJoin(broadcast(total))
      .withColumn("cum_dec", sum(col("rev_dec")).over(w))
      .withColumn("cum_share",
        col("cum_dec").cast(DoubleType) / col("total_dec").cast(DoubleType))
      .select(col("l_partkey"),
        col("rev_dec").cast(DoubleType).as("revenue"),
        col("cum_share"),
        when(col("cum_share") <= 0.8, "A")
          .when(col("cum_share") <= 0.95, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("l_partkey"))
  }

  /** Per-group z-score outlier detection over `events.value`. Values are
    * quantized to exact BIGINTs (the q56 moment discipline), per-type
    * count/sum/sum-of-squares reduce map-side, and the z-score is
    * z = (n*x - sx) / sqrt(n*sxx - sx^2) — algebraically (x - mean)/sd
    * with POPULATION sd, but every operand is an exact integer cast to
    * double in a fixed order, so Spark and DuckDB produce bit-identical
    * doubles. Factors cast to double BEFORE multiplying: n*sxx as BIGINT
    * would wrap past ~3e9 rows (the x69 lesson). The group moments are a
    * tiny broadcast back onto the scan — one aggregation shuffle total.
    */
  def zscoreOutliers(s: SparkSession, dir: String, thresh: Double = 2.5): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100.0).cast(LongType).as("x"))
    val m = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val d = (c: Column) => c.cast(DoubleType)
    e.join(broadcast(m), "event_type")
      .withColumn("z",
        (d(col("n")) * d(col("x")) - d(col("sx"))) /
          sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
      .filter(abs(col("z")) > thresh)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  /** Robust (median/MAD) outlier detection — the q63 z-score's heavy-tail
    * companion: an outlier is dev = |value - median| > 3 * MAD, immune to
    * the outliers' own pull on mean and variance. Both quantiles use the
    * exact LOWER-rank order statistic (value at row_number ceil(n/2) of
    * the (value, event_id) per-group sort — the q49 discipline; an
    * interpolating quantile's float arithmetic differs across engines).
    * Two per-group window sorts + two tiny broadcasts back onto the
    * scan; dev and the 3*MAD threshold are single double ops on
    * identically-derived operands, so the output hash-gates.
    */
  def madOutliers(s: SparkSession, dir: String, k: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy(col("event_type"))
    def lowerMedian(in: DataFrame, c: String, out: String): DataFrame =
      in.withColumn("rn", row_number().over(byType.orderBy(col(c), col("event_id"))))
        .withColumn("n", count(lit(1)).over(byType))
        .groupBy(col("event_type"))
        .agg(max(when(col("rn") === ceil(lit(0.5) * col("n")), col(c))).as(out))
    val e = t(s, dir, "events").select(col("event_id"), col("event_type"), col("value"))
    val med = lowerMedian(e, "value", "med")
    val withDev = e.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = lowerMedian(withDev, "dev", "mad")
    withDev.join(broadcast(mad), "event_type")
      .filter(col("dev") > lit(k) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"), col("dev"))
      .orderBy(col("event_id"))
  }

  /** Exponentially-weighted moving average of daily event counts, 8-day
    * truncated window with halving weights. The weights 2^-j are EXACT
    * binary doubles, every product n * 2^-j is an exact scaling, and the
    * 8-term sums stay exact (all terms are multiples of 2^-7 far below
    * the 53-bit mantissa) — so addition order is irrelevant and the one
    * final division hash-gates cross-engine, which a classic recursive
    * EWMA (compounding rounded doubles) never could. Head-of-series
    * normalization: the denominator only counts days that EXIST, so day
    * 1's EWMA is its own count, not a zero-padded underestimate. One
    * aggregate + 8 lags behind a single per-type window sort.
    */
  def ewmaDaily(s: SparkSession, dir: String, horizon: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val terms = (0 until horizon).map { j =>
      val lagged = lag(col("n_events"), j).over(w)
      (coalesce(lagged.cast(DoubleType) * lit(math.pow(0.5, j)), lit(0.0)),
        when(lagged.isNotNull, lit(math.pow(0.5, j))).otherwise(lit(0.0)))
    }
    t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("ewma", terms.map(_._1).reduce(_ + _) / terms.map(_._2).reduce(_ + _))
      .select(col("event_type"), col("day"), col("n_events"), col("ewma"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Seasonal-naive forecast backtest — the forecast-evaluation pass a
    * metrics pipeline runs before anyone models anything: per event
    * type, the mean absolute error of predicting each day's event count
    * with (a) the count 7 days earlier (weekly-seasonal naive) and (b)
    * the count 1 day earlier (naive). If MAE(seasonal) does not beat
    * MAE(naive), there is no weekly signal worth modeling. Forecasts
    * join on calendar DATE (gap-proof, unlike a row lag); errors are
    * exact BIGINT |count - count|, the MAE a single double division —
    * so a forecast-quality report hash-gates. One daily aggregate +
    * two self-joins at day grain (dimension-sized).
    */
  def seasonalBacktest(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    def leg(k: Int) = daily.as("d")
      .join(daily.as("f"),
        col("d.event_type") === col("f.event_type") &&
          col("f.day") === date_sub(col("d.day"), k))
      .groupBy(col("d.event_type").as("event_type"))
      .agg(count(lit(1)).as(s"n_eval_$k"),
        sum(abs(col("d.n") - col("f.n"))).cast(LongType).as(s"abs_err_$k"))
    leg(7).join(leg(1), "event_type")
      .select(col("event_type"),
        col("n_eval_7").as("n_eval_seasonal"),
        col("abs_err_7").as("abs_err_seasonal"),
        (col("abs_err_7").cast(DoubleType) / col("n_eval_7").cast(DoubleType))
          .as("mae_seasonal"),
        col("n_eval_1").as("n_eval_naive"),
        col("abs_err_1").as("abs_err_naive"),
        (col("abs_err_1").cast(DoubleType) / col("n_eval_1").cast(DoubleType))
          .as("mae_naive"))
      .orderBy(col("event_type"))
  }

  /** Chi-square independence cells for event_type x weekday: observed
    * counts, expected under independence e = row_tot * col_tot / n, and
    * each cell's (o-e)^2/e contribution — reported PER CELL (the analyst
    * wants to see WHICH cells drive dependence; a single chi2 total would
    * also be an order-dependent float sum that can't hash-gate, while
    * per-cell doubles are identical single-expression derivations from
    * exact integers). Totals cast to double BEFORE multiplying — the
    * BIGINT product row_tot * col_tot wraps at 100 TB counts (x69
    * lesson). Three tiny aggregates broadcast onto a cell-grain frame.
    */
  def chisqCells(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "EEEE").as("day_name"))
      .agg(count(lit(1)).as("n_obs"))
    val rowTot = obs.groupBy(col("event_type")).agg(sum(col("n_obs")).as("row_tot"))
    val colTot = obs.groupBy(col("day_name")).agg(sum(col("n_obs")).as("col_tot"))
    val total = obs.agg(sum(col("n_obs")).as("n_total"))
    val d = (c: Column) => c.cast(DoubleType)
    obs.join(broadcast(rowTot), "event_type")
      .join(broadcast(colTot), "day_name")
      .crossJoin(broadcast(total))
      .withColumn("expected", d(col("row_tot")) * d(col("col_tot")) / d(col("n_total")))
      .withColumn("contrib",
        (d(col("n_obs")) - col("expected")) * (d(col("n_obs")) - col("expected"))
          / col("expected"))
      .select(col("event_type"), col("day_name"), col("n_obs"),
        col("expected"), col("contrib"))
      .orderBy(col("event_type"), col("day_name"))
  }

  /** Retention cohort matrix: users cohorted by first-seen day, activity
    * counted at each day offset — n_active distinct users from cohort c
    * active exactly offset d days later, retention = n_active/n_cohort.
    * The product-analytics staple. Two aggregates (first-seen is a
    * per-user min that reduces map-side; the matrix is
    * (cohort, offset)-grain) and one broadcast of cohort sizes; the only
    * fact-table shuffle keys on user_id. retention is one division of
    * exact BIGINTs.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val active = e.distinct().join(cohort, "user_id")
      .withColumn("offset", datediff(col("day"), col("cohort_day")).cast(LongType))
      .groupBy(col("cohort_day"), col("offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val sizes = cohort.groupBy(col("cohort_day")).agg(count(lit(1)).as("n_cohort"))
    active.join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("offset"), col("n_active"), col("n_cohort"),
        (col("n_active").cast(DoubleType) / col("n_cohort").cast(DoubleType))
          .as("retention"))
      .orderBy(col("cohort_day"), col("offset"))
  }

  /** Within-session funnel: did the user click AFTER their first view
    * INSIDE the same session? — the q53 funnel made session-scoped (a
    * click in tomorrow's session no longer counts as conversion). Built
    * on the q61 session assignment; first_view is a filtered MIN, the
    * conversion flag an EXISTS over the same session keyed by strict
    * ts > first_view. Both aggregates key on (user_id, session_idx), so
    * the whole query stays behind the session assignment's single
    * user_id Exchange plus one session-grain aggregate.
    */
  def sessionFunnel(s: SparkSession, dir: String): DataFrame = {
    val sess = sessionAssigned(s, dir)
    val fv = sess.groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(when(col("event_type") === "view", col("ts"))).as("first_view"))
    sess.join(fv, Seq("user_id", "session_idx"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("first_view")).as("first_view"),
        max(when(col("event_type") === "click" && col("ts") > col("first_view"),
          1L).otherwise(0L)).as("conv_flag"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("first_view").isNotNull.as("has_view"),
        (col("conv_flag") === 1L).as("converted"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** First-order Markov transition matrix over each user's event stream:
    * counts of consecutive (prev_type -> type) steps and the
    * row-normalized transition probability — the behavioral-model
    * estimate a recommender or anomaly detector starts from. One lag
    * window keyed on user_id + one transition-grain aggregate; p is a
    * single division of exact counts.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n_trans"))
    val rowTot = trans.groupBy(col("prev_type")).agg(sum(col("n_trans")).as("row_tot"))
    trans.join(broadcast(rowTot), "prev_type")
      .select(col("prev_type"), col("event_type"), col("n_trans"),
        (col("n_trans").cast(DoubleType) / col("row_tot").cast(DoubleType)).as("p"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** Distribution-drift report (the PSI workflow without its logarithm,
    * which cannot hash-gate): events split into period A (first half of
    * the month) and B (rest), values binned into fixed-width buckets per
    * event type, and each bucket reports both periods' counts, shares,
    * and the absolute share difference plus a drift flag at 2%. Shares
    * are single divisions of exact counts; a full-outer bucket join
    * keeps buckets that exist in only one period (drift's most
    * interesting case — share 0.0 on the empty side). Two cell-grain
    * aggregates + one broadcast of period totals.
    */
  def driftReport(s: SparkSession, dir: String, binWidth: Double = 25.0,
      threshold: Double = 0.02): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), col("value"),
        (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("in_a"),
        floor(col("value") / binWidth).cast(LongType).as("bucket"))
    val cells = e.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
    val totals = e.groupBy(col("event_type"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("tot_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("tot_b"))
    val d = (c: Column) => c.cast(DoubleType)
    cells.join(broadcast(totals), "event_type")
      .withColumn("share_a", d(col("n_a")) / d(col("tot_a")))
      .withColumn("share_b", d(col("n_b")) / d(col("tot_b")))
      .withColumn("share_diff", abs(col("share_a") - col("share_b")))
      .select(col("event_type"), col("bucket"), col("n_a"), col("n_b"),
        col("share_a"), col("share_b"), col("share_diff"),
        (col("share_diff") > threshold).as("drifted"))
      .orderBy(col("event_type"), col("bucket"))
  }

  private val basketCache = SessionMemo[String, DataFrame]("Scalars.baskets")

  /** Market-basket affinity (pairwise association rules): parts
    * co-ordered in the same order, with support counts and
    * lift = P(a,b) / (P(a)P(b)) = n_pair * n_orders / (n_a * n_b) —
    * top-k surprising pairs at a minimum support. The pair expansion is
    * a self-join WITHIN the order key (bounded by basket size, never
    * corpus size); part marginals are dimension-grain and AQE-broadcast
    * back; lift multiplies doubles cast from exact integers in a pinned
    * order, so the ranking hash-gates. Ties broken by the pair key.
    */
  def basketAffinity(s: SparkSession, dir: String,
      minSupport: Long = 5L, k: Int = 30): DataFrame = {
    // One exchange builds per-order sorted baskets — the (order, part)
    // dedup rides the SAME aggregation as the grouping (array_distinct
    // over the collected parts), so the r19 standalone 600 K-row
    // distinct+pin is gone. Pair expansion is in-row over the sorted
    // array (r20 optimization round, guide §2.4: the a⨝b self-join
    // shuffled the items frame twice and sorted both sides; every i<j
    // pair of a sorted distinct basket IS every part_a < part_b pair,
    // bounded by basket size exactly like the join was). Baskets stay
    // pinned, once per (session, dataset): the frame feeds totals,
    // marginals and pairs.
    val baskets = basketCache(s, dir)(t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(array_distinct(collect_list(col("l_partkey")))).as("parts"))
      .select(col("parts"))
      .pinned)
    val totals = baskets.agg(count(lit(1)).as("n_orders"))
    val marg = baskets.select(explode(col("parts")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
    val d = (c: Column) => c.cast(DoubleType)
    baskets
      .select(explode(expr(
        "flatten(transform(parts, (x, i) -> " +
          "transform(slice(parts, i + 2, size(parts)), " +
          "y -> struct(x AS part_a, y AS part_b))))")).as("p"))
      .select(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .groupBy(col("part_a"), col("part_b")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minSupport)
      .join(marg.select(col("l_partkey").as("part_a"), col("n_part").as("n_a")), "part_a")
      .join(marg.select(col("l_partkey").as("part_b"), col("n_part").as("n_b")), "part_b")
      .crossJoin(broadcast(totals))
      .select(col("part_a"), col("part_b"), col("n_pair"), col("n_a"), col("n_b"),
        (d(col("n_pair")) * d(col("n_orders")) / (d(col("n_a")) * d(col("n_b"))))
          .as("lift"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  /** Percent-of-parent hierarchical rollup: order revenue per nation
    * with each nation's share of its region — the drill-down report
    * every BI layer renders. Revenue aggregates in exact DECIMAL at
    * nation grain FIRST (facts never join the hierarchy twice); region
    * totals are a window over the nation-grain frame (dimension-sized),
    * and the share is one double division of exact decimals. Dims
    * broadcast; the only fact shuffle is the custkey aggregation.
    */
  def percentOfParent(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(M)).as("rev_dec"))
    val nations = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(t(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region").select(col("r_regionkey"), col("r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    val natRev = byCust.join(nations, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("rev_dec")).as("nat_dec"))
    val byRegion = Window.partitionBy(col("r_name"))
    natRev
      .withColumn("reg_dec", sum(col("nat_dec")).over(byRegion))
      .select(col("r_name"), col("n_name"),
        col("nat_dec").cast(DoubleType).as("revenue"),
        col("reg_dec").cast(DoubleType).as("region_revenue"),
        (col("nat_dec").cast(DoubleType) / col("reg_dec").cast(DoubleType)).as("share"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Rolling activity / churn flags: for every user and every calendar
    * day of the observed range, was the user active that day, active in
    * the trailing 7 days, and how many days since their last activity —
    * the DAU/WAU/churn machinery. The spine explodes per user (never a
    * cross join against the fact table), activity joins at (user, day)
    * grain, and both rolling columns are windows over the SAME per-user
    * day sort: a RANGE frame for the 7-day flag and a running max for
    * days-since-last (valid because day numbers increase — no
    * cross-engine last()-semantics risk). One user_id shuffle total.
    */
  def rollingActivity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val acts = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val bounds = acts.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = acts.select(col("user_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      .withColumn("day_num", datediff(col("day"), lit("2024-01-01").cast("date")).cast(LongType))
    val marked = spine
      .join(acts.withColumn("was_active", lit(true)), Seq("user_id", "day"), "left")
      .withColumn("was_active", coalesce(col("was_active"), lit(false)))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day_num"))
    val range7 = byUser.rangeBetween(-6L, 0L)
    val running = byUser.rowsBetween(Window.unboundedPreceding, 0L)
    marked
      .withColumn("active_7d",
        sum(when(col("was_active"), 1L).otherwise(0L)).over(range7) > 0L)
      .withColumn("last_active_num",
        max(when(col("was_active"), col("day_num"))).over(running))
      .select(col("user_id"), col("day"), col("was_active"), col("active_7d"),
        (col("day_num") - col("last_active_num")).as("days_since_last"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Time-weighted average value (TWAP) per user: each observation
    * weighs by how long it was current (until the user's next event),
    * the financial/metrics standard a plain mean misstates under
    * irregular sampling. Values quantize to exact integers (q56
    * discipline) so every x_q * dt product and both sums are exact
    * BIGINTs — addition order cannot matter — and the single final
    * division hash-gates. The last observation (no successor) carries
    * zero weight by construction; users whose events are all
    * simultaneous have no weighted support and drop out (NULL would be
    * a lie, not a value). One user_id shuffle shared by the lead window
    * and the aggregate.
    */
  def twap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100.0).cast(LongType).as("xq"),
        unix_timestamp(col("ts")).as("epoch_s"))
      .withColumn("next_epoch", lead(col("epoch_s"), 1).over(byUser))
      .filter(col("next_epoch").isNotNull)
      .withColumn("dt", col("next_epoch") - col("epoch_s"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("xq") * col("dt")).as("wsum"),
        sum(col("dt")).as("tsum"))
      .filter(col("tsum") > 0L)
      .select(col("user_id"), col("n_intervals"), col("tsum").as("observed_s"),
        (col("wsum").cast(DoubleType) / col("tsum").cast(DoubleType) / 100.0).as("twap"))
      .orderBy(col("user_id"))
  }

  /** k-anonymity audit over the quasi-identifier combination
    * (event_type, day, value band): every QI group's size, whether it
    * meets k=5, and its share of all rows — the re-identification risk
    * report a privacy review runs before releasing a dataset. Groups
    * below k are exactly the rows a release would have to suppress or
    * generalize. One cell-grain aggregate + a broadcast total.
    */
  def kAnonymity(s: SparkSession, dir: String, k: Long = 5L): DataFrame = {
    val cells = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") / 50.0).cast(LongType).as("value_band"))
      .agg(count(lit(1)).as("n_rows"))
    val total = cells.agg(sum(col("n_rows")).as("n_total"))
    cells.crossJoin(broadcast(total))
      .select(col("event_type"), col("day"), col("value_band"), col("n_rows"),
        (col("n_rows") >= k).as("meets_k"),
        (col("n_rows").cast(DoubleType) / col("n_total").cast(DoubleType)).as("row_share"))
      .orderBy(col("event_type"), col("day"), col("value_band"))
  }

  /** Capped running balance (inventory / credit semantics): per user,
    * fold signed quantized deltas in event order with the balance
    * FLOORED at zero after every step — bal' = max(0, bal + dx). The
    * floor makes this a genuine RECURSION no window frame can express
    * (each step depends on the clamped previous state, not a prefix
    * aggregate), so both engines fold an explicitly ORDERED list:
    * Spark's `aggregate` over sort_array, DuckDB's `list_reduce` over
    * `list(... ORDER BY ...)` — identical integer steps, identical
    * result. Deltas center value at its band midpoint so both signs
    * occur. State is one long per user; the collected list is bounded
    * by one user's history (the session-window bound, not the corpus).
    */
  def cappedBalance(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        (round(col("value") * 100.0).cast(LongType) - 16000L).as("dx"))
    e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("dx")).as("net_dx"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("dx")))),
            r => r.getField("dx")),
          lit(0L),
          (acc, x) => greatest(lit(0L), acc + x)).as("final_balance"))
      .select(col("user_id"), col("n_events"), col("net_dx"), col("final_balance"))
      .orderBy(col("user_id"))
  }

  /** Ship-latency SLA report per order priority: days from order date
    * to each line's ship date, rolled up as exact lower-rank median
    * (q49 discipline), min/max, and the share of lines shipping within
    * 30/60/90 days — the fulfillment dashboard. Latencies are exact
    * integer day diffs; shares are single divisions of exact counts.
    * One fact join (orders broadcast at dimension scale or shuffled on
    * the key at 100 TB) + one per-priority window for the median.
    */
  def shipLatency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lat = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast(LongType).as("days"))
    // Exact median WITHOUT the per-priority global sort: 5 priorities
    // would force the whole fact table through 5 window partitions (the
    // classic low-cardinality-window straggler — bench-visible at 10x,
    // fatal at 100 TB). Instead the corpus flows ONCE through a fully
    // parallel (priority, days) histogram aggregate; the median is the
    // smallest day whose cumulative count reaches ceil(n/2), read from a
    // window over the ~|priorities| x |distinct days| histogram rows.
    val hist = lat.groupBy(col("priority"), col("days"))
      .agg(count(lit(1)).as("c"))
    val totals = hist.groupBy(col("priority"))
      .agg(sum(col("c")).cast(LongType).as("n_lines"),
        min(col("days")).as("min_days"),
        max(col("days")).as("max_days"),
        (sum(when(col("days") <= 30L, col("c")).otherwise(0L)).cast(DoubleType)
          / sum(col("c")).cast(DoubleType)).as("within_30d"),
        (sum(when(col("days") <= 60L, col("c")).otherwise(0L)).cast(DoubleType)
          / sum(col("c")).cast(DoubleType)).as("within_60d"),
        (sum(when(col("days") <= 90L, col("c")).otherwise(0L)).cast(DoubleType)
          / sum(col("c")).cast(DoubleType)).as("within_90d"))
    val cum = Window.partitionBy(col("priority")).orderBy(col("days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val medians = hist
      .withColumn("cumc", sum(col("c")).over(cum))
      .join(totals.select(col("priority"), col("n_lines").as("n")), "priority")
      .filter(col("cumc") >= ceil(lit(0.5) * col("n")))
      .groupBy(col("priority"))
      .agg(min(col("days")).as("median_days"))
    totals.join(medians, "priority")
      .select(col("priority"), col("n_lines"), col("min_days"),
        col("median_days"), col("max_days"),
        col("within_30d"), col("within_60d"), col("within_90d"))
      .orderBy(col("priority"))
  }

  /** Audience overlap matrix: for every pair of event types, how many
    * distinct users did each, how many did BOTH, and the Jaccard of the
    * audiences — the segmentation overlap report. Computed from the
    * (user, type)-distinct frame self-joined within the user key (pair
    * expansion bounded by types-per-user, never corpus size), plus a
    * broadcast of per-type audience sizes; overlap and Jaccard are
    * single divisions of exact distinct counts.
    */
  def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val ut = t(s, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    val a = ut.select(col("user_id"), col("event_type").as("type_a"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"))
    val d = (c: Column) => c.cast(DoubleType)
    a.join(b, "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_both"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n_users").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n_users").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        (d(col("n_both")) / (d(col("n_a")) + d(col("n_b")) - d(col("n_both"))))
          .as("audience_jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q82: last-touch conversion attribution — the warehouse op behind
    * every marketing/readthrough dashboard: each `purchase` is
    * attributed to the user's LAST preceding touch (`click`/`view`)
    * under (epoch, event_id) lexicographic order, and the attribution
    * only STANDS if that last touch falls inside the lookback window
    * (an older touch does not roll forward — the standard last-touch
    * rule). One shuffle on user_id: touches and purchases ride the
    * SAME window pass (the as-of union-window shape), the running
    * `max(struct(epoch, id, type))` over touch rows is
    * map-side-combinable state, and no self-join ever materializes the
    * touch×purchase product — the twin spells exactly that brute-force
    * join and must agree row for row. Epoch arithmetic in BIGINT
    * seconds; `value` passes through untouched from the shared
    * parquet.
    */
  def attribution(s: SparkSession, dir: String,
      lookbackS: Long = 7L * 86400L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), col("value"),
      unix_timestamp(col("ts")).as("epoch_s"))
    val isTouch = col("event_type").isin("click", "view")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = ev.withColumn("last_touch",
      max(when(isTouch,
        struct(col("epoch_s"), col("event_id"), col("event_type")))).over(w))
    tagged.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("value"),
        col("epoch_s"),
        col("last_touch").getField("epoch_s").as("touch_epoch"),
        col("last_touch").getField("event_id").as("raw_touch_id"),
        col("last_touch").getField("event_type").as("raw_touch_type"))
      .withColumn("attributed",
        col("touch_epoch").isNotNull &&
          col("epoch_s") - col("touch_epoch") <= lookbackS)
      .select(col("purchase_id"), col("user_id"), col("value"),
        when(col("attributed"), col("raw_touch_id")).as("touch_id"),
        when(col("attributed"), col("raw_touch_type")).as("touch_type"),
        when(col("attributed"), col("epoch_s") - col("touch_epoch"))
          .as("secs_since_touch"),
        col("attributed"))
      .orderBy(col("purchase_id"))
  }

  /** x201: windowed sequential-pattern (episode) mining over per-user
    * event streams (Mannila, Toivonen & Verkamo 1997; the gap-bounded
    * serial-episode form of PrefixSpan): a length-2 pattern a→b is
    * supported by a user who has SOME a-event followed by a b-event
    * within `windowUs`; length-3 a→b→c chains two such steps through a
    * shared middle event. Patterns (lengths 1–3) with ≥ `minSup`
    * distinct supporting users are reported — the behavioral-motif
    * complement to q71's adjacent-only transition matrix (episodes
    * allow intervening events; transitions do not).
    *
    * Shape: occurrence joins are (user, time-bucket) equi-joins —
    * bucket = floor(ts/W), each event probes buckets {b, b+1}, so the
    * join never compares events farther than one window apart (the
    * banded time join, not a per-user cross). Existence, not counting:
    * occurrences dedup to (user, pattern) and to the minimal
    * extension state (user, middle-ts, prefix) before growing, so the
    * L3 stage is bounded by distinct states, not occurrence
    * multiplicity. Supports are one distinct-user aggregate per level.
    */
  def seqPatterns(s: SparkSession, dir: String, windowUs: Long = 3600000000L,
      minSup: Long = 30L): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id").as("u"), col("event_type").as("t"),
        unix_micros(col("ts")).as("ts"))
      .withColumn("bkt", floor(col("ts").cast(DoubleType) / lit(windowUs.toDouble))
        .cast(LongType))
      .pinned
    // probe side: each event offered at its own bucket and the previous
    // one, so (b, b) and (b, b+1) pairs meet on an equi key
    val probe = ev.select(col("u"), col("t"), col("ts"),
      explode(array(col("bkt"), col("bkt") - 1)).as("bkt"))
    def step(state: DataFrame, tsCol: String): DataFrame =
      state.join(probe.select(col("u"), col("t").as("nt"),
          col("ts").as("nts"), col("bkt")),
        Seq("u", "bkt"))
        .filter(col("nts") > col(tsCol) && col("nts") - col(tsCol) <= windowUs)
    val l1 = ev.select(col("u"), col("t")).distinct()
    val l1sup = l1.groupBy(col("t")).agg(countDistinct(col("u")).as("support"))
      .filter(col("support") >= minSup)
      .select(col("t").as("pattern"), lit(1).as("len"), col("support"))
    // L2 states: (u, a, tb) — the minimal b-anchored occurrence state
    val occ2 = step(ev.select(col("u"), col("t").as("a"), col("ts"), col("bkt")), "ts")
      .select(col("u"), col("a"), col("nt").as("b"), col("nts").as("tb"))
      .distinct()
      .pinned
    val l2sup = occ2.select(col("u"), col("a"), col("b")).distinct()
      .groupBy(col("a"), col("b")).agg(countDistinct(col("u")).as("support"))
      .filter(col("support") >= minSup)
    val l2 = l2sup.select(concat(col("a"), lit(">"), col("b")).as("pattern"),
      lit(2).as("len"), col("support"))
    // L3: extend only L2-frequent prefixes (Apriori prune) through the
    // shared middle event
    val occ3 = step(
      occ2.join(l2sup.select(col("a"), col("b")), Seq("a", "b"), "left_semi")
        .withColumn("bkt", floor(col("tb").cast(DoubleType) / lit(windowUs.toDouble))
          .cast(LongType)),
      "tb")
      .select(col("u"), col("a"), col("b"), col("nt").as("c")).distinct()
    val l3 = occ3.groupBy(col("a"), col("b"), col("c"))
      .agg(countDistinct(col("u")).as("support"))
      .filter(col("support") >= minSup)
      .select(concat(col("a"), lit(">"), col("b"), lit(">"), col("c")).as("pattern"),
        lit(3).as("len"), col("support"))
    l1sup.union(l2).union(l3)
      .orderBy(col("len"), col("support").desc, col("pattern"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x201_seq_patterns" -> ((s: SparkSession, dir: String) => seqPatterns(s, dir)),
    "q82_attribution" -> ((s: SparkSession, dir: String) => attribution(s, dir)),
    "q78_audience_overlap" -> (audienceOverlap _),
    "q77_ship_latency" -> (shipLatency _),
    "q76_capped_balance" -> (cappedBalance _),
    "q75_twap" -> (twap _),
    "x81_k_anonymity" -> ((s: SparkSession, dir: String) => kAnonymity(s, dir)),
    "q74_rolling_activity" -> (rollingActivity _),
    "q73_percent_of_parent" -> (percentOfParent _),
    "q72_basket_affinity" -> ((s: SparkSession, dir: String) => basketAffinity(s, dir)),
    "q71_event_transitions" -> (eventTransitions _),
    "x78_drift_report" -> ((s: SparkSession, dir: String) => driftReport(s, dir)),
    "q69_session_funnel" -> (sessionFunnel _),
    "q66_chisq_cells" -> (chisqCells _),
    "q67_retention_cohorts" -> (retentionCohorts _),
    "q64_mad_outliers" -> ((s: SparkSession, dir: String) => madOutliers(s, dir)),
    "q65_ewma_daily" -> ((s: SparkSession, dir: String) => ewmaDaily(s, dir)),
    "q80_seasonal_backtest" -> (seasonalBacktest _),
    "q61_sessionize_batch" -> ((s: SparkSession, dir: String) => sessionizeBatch(s, dir)),
    "q62_pareto_abc" -> (paretoAbc _),
    "q63_zscore_outliers" -> ((s: SparkSession, dir: String) => zscoreOutliers(s, dir)),
    "q59_period_over_period" -> (periodOverPeriod _),
    "q53_funnel" -> (funnelStages _),
    "q56_corr_moments" -> (corrMoments _),
    "q57_resample_ffill" -> (resampleFfill _),
    "q43_quantile_binning" -> (quantileBinning _),
    "q44_time_range_window" -> (slidingHourCounts _),
    "q22_json_extract" -> (jsonExtract _),
    "x182_variant_extract" -> (variantExtract _),
    "q23_json_construct" -> (jsonConstruct _),
    "q24_string_funcs" -> (stringFuncs _),
    "q25_case_when_buckets" -> (caseWhenBuckets _),
    "q26_time_parts" -> (timeParts _),
    "q27_event_day_window" -> (eventDayWindow _))

  val oracles: Map[String, String] = Map(
    // x201: the same bucketed occurrence joins, dedup-to-state rule,
    // Apriori prune and distinct-user supports.
    "x201_seq_patterns" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts,
        |    CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bkt
        |  FROM events),
        |probe AS MATERIALIZED (
        |  SELECT u, t AS nt, ts AS nts, bkt FROM ev
        |  UNION ALL SELECT u, t, ts, bkt - 1 FROM ev),
        |l1 AS (
        |  SELECT t AS pattern, 1 AS len,
        |    CAST(count(DISTINCT u) AS BIGINT) AS support
        |  FROM (SELECT DISTINCT u, t FROM ev) GROUP BY t
        |  HAVING count(DISTINCT u) >= 30),
        |occ2 AS MATERIALIZED (
        |  SELECT DISTINCT e.u, e.t AS a, p.nt AS b, p.nts AS tb
        |  FROM ev e JOIN probe p ON p.u = e.u AND p.bkt = e.bkt
        |  WHERE p.nts > e.ts AND p.nts - e.ts <= 3600000000),
        |l2sup AS MATERIALIZED (
        |  SELECT a, b, CAST(count(DISTINCT u) AS BIGINT) AS support
        |  FROM (SELECT DISTINCT u, a, b FROM occ2) GROUP BY a, b
        |  HAVING count(DISTINCT u) >= 30),
        |occ3 AS MATERIALIZED (
        |  SELECT DISTINCT o.u, o.a, o.b, p.nt AS c
        |  FROM occ2 o
        |  JOIN l2sup l ON l.a = o.a AND l.b = o.b
        |  JOIN probe p ON p.u = o.u
        |    AND p.bkt = CAST(floor(o.tb / 3600000000.0) AS BIGINT)
        |  WHERE p.nts > o.tb AND p.nts - o.tb <= 3600000000),
        |l3 AS (
        |  SELECT a || '>' || b || '>' || c AS pattern, 3 AS len,
        |    CAST(count(DISTINCT u) AS BIGINT) AS support
        |  FROM occ3 GROUP BY a, b, c HAVING count(DISTINCT u) >= 30)
        |SELECT pattern, CAST(len AS INT) AS len, support FROM (
        |  SELECT * FROM l1
        |  UNION ALL SELECT a || '>' || b, 2, support FROM l2sup
        |  UNION ALL SELECT * FROM l3)
        |ORDER BY len, support DESC, pattern""".stripMargin,
    // q82: the brute-force relational spelling — per purchase, the
    // argmax touch under (epoch, event_id) among strictly-earlier
    // touches of the same user, then the lookback test on that row.
    "q82_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
        |  FROM events),
        |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |tch AS (SELECT * FROM ev WHERE event_type IN ('click', 'view')),
        |lt AS (
        |  SELECT purchase_id, touch_id, touch_type, touch_epoch FROM (
        |    SELECT p.event_id AS purchase_id, tch.event_id AS touch_id,
        |      tch.event_type AS touch_type, tch.epoch_s AS touch_epoch,
        |      row_number() OVER (PARTITION BY p.event_id
        |        ORDER BY tch.epoch_s DESC, tch.event_id DESC) AS rn
        |    FROM p JOIN tch ON tch.user_id = p.user_id
        |      AND (tch.epoch_s < p.epoch_s
        |           OR (tch.epoch_s = p.epoch_s AND tch.event_id < p.event_id)))
        |  WHERE rn = 1)
        |SELECT p.event_id AS purchase_id, p.user_id, p.value,
        |  CASE WHEN l.touch_epoch IS NOT NULL
        |         AND p.epoch_s - l.touch_epoch <= 604800 THEN l.touch_id END AS touch_id,
        |  CASE WHEN l.touch_epoch IS NOT NULL
        |         AND p.epoch_s - l.touch_epoch <= 604800 THEN l.touch_type END AS touch_type,
        |  CASE WHEN l.touch_epoch IS NOT NULL
        |         AND p.epoch_s - l.touch_epoch <= 604800
        |       THEN p.epoch_s - l.touch_epoch END AS secs_since_touch,
        |  coalesce(l.touch_epoch IS NOT NULL
        |    AND p.epoch_s - l.touch_epoch <= 604800, FALSE) AS attributed
        |FROM p LEFT JOIN lt l ON l.purchase_id = p.event_id
        |ORDER BY purchase_id""".stripMargin,
    "q78_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, count(*) AS n_users FROM ut GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n_users AS n_a, sb.n_users AS n_b, n_both,
        |  CAST(n_both AS DOUBLE)
        |    / (CAST(sa.n_users AS DOUBLE) + CAST(sb.n_users AS DOUBLE)
        |       - CAST(n_both AS DOUBLE)) AS audience_jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.event_type = type_a
        |JOIN sizes sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "q77_ship_latency" ->
      """WITH lat AS (
        |  SELECT o.o_orderpriority AS priority,
        |    CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
        |                   CAST(l.l_shipdate AS DATE)) AS BIGINT) AS days,
        |    l.l_orderkey, l.l_linenumber
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY priority
        |      ORDER BY days, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY priority) AS n
        |  FROM lat)
        |SELECT priority, max(n) AS n_lines,
        |  min(days) AS min_days,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN days END) AS median_days,
        |  max(days) AS max_days,
        |  CAST(sum(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS within_30d,
        |  CAST(sum(CASE WHEN days <= 60 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS within_60d,
        |  CAST(sum(CASE WHEN days <= 90 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS within_90d
        |FROM r GROUP BY priority ORDER BY priority""".stripMargin,
    "q76_capped_balance" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 100.0) AS BIGINT) - 16000 AS dx
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(dx) AS BIGINT) AS net_dx,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT), list(dx ORDER BY ts, event_id)),
        |    (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x)) AS final_balance
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q75_twap" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 100.0) AS BIGINT) AS xq,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
        |  FROM events),
        |w AS (
        |  SELECT *, lead(epoch_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_epoch
        |  FROM e),
        |i AS (
        |  SELECT user_id, xq, next_epoch - epoch_s AS dt
        |  FROM w WHERE next_epoch IS NOT NULL),
        |a AS (
        |  SELECT user_id, count(*) AS n_intervals,
        |    CAST(sum(xq * dt) AS BIGINT) AS wsum, CAST(sum(dt) AS BIGINT) AS tsum
        |  FROM i GROUP BY 1)
        |SELECT user_id, n_intervals, tsum AS observed_s,
        |  CAST(wsum AS DOUBLE) / CAST(tsum AS DOUBLE) / 100.0 AS twap
        |FROM a WHERE tsum > 0 ORDER BY user_id""".stripMargin,
    "x81_k_anonymity" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(value / 50.0) AS BIGINT) AS value_band,
        |    count(*) AS n_rows
        |  FROM events GROUP BY 1, 2, 3),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total FROM cells)
        |SELECT event_type, day, value_band, n_rows,
        |  n_rows >= 5 AS meets_k,
        |  CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE) AS row_share
        |FROM cells, t ORDER BY event_type, day, value_band""".stripMargin,
    "q74_rolling_activity" ->
      """WITH acts AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM acts),
        |spine AS (
        |  SELECT u.user_id,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
        |      INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM acts) u, b),
        |m AS (
        |  SELECT s.user_id, s.day,
        |    CAST(date_diff('day', DATE '2024-01-01', s.day) AS BIGINT) AS day_num,
        |    a.day IS NOT NULL AS was_active
        |  FROM spine s LEFT JOIN acts a ON s.user_id = a.user_id AND s.day = a.day)
        |SELECT user_id, day, was_active,
        |  sum(CASE WHEN was_active THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |    ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) > 0 AS active_7d,
        |  day_num - max(CASE WHEN was_active THEN day_num END) OVER (PARTITION BY user_id
        |    ORDER BY day_num ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS days_since_last
        |FROM m ORDER BY user_id, day""".stripMargin,
    "q73_percent_of_parent" ->
      """WITH bycust AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev_dec
        |  FROM orders GROUP BY 1),
        |nat AS (
        |  SELECT r.r_name, n.n_name, sum(b.rev_dec) AS nat_dec
        |  FROM bycust b
        |  JOIN customer c ON b.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name,
        |  CAST(nat_dec AS DOUBLE) AS revenue,
        |  CAST(sum(nat_dec) OVER (PARTITION BY r_name) AS DOUBLE) AS region_revenue,
        |  CAST(nat_dec AS DOUBLE)
        |    / CAST(sum(nat_dec) OVER (PARTITION BY r_name) AS DOUBLE) AS share
        |FROM nat ORDER BY r_name, n_name""".stripMargin,
    "q72_basket_affinity" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |t AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
        |marg AS (SELECT l_partkey, count(*) AS n_part FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_pair
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT part_a, part_b, n_pair,
        |  ma.n_part AS n_a, mb.n_part AS n_b,
        |  CAST(n_pair AS DOUBLE) * CAST(n_orders AS DOUBLE)
        |    / (CAST(ma.n_part AS DOUBLE) * CAST(mb.n_part AS DOUBLE)) AS lift
        |FROM pairs
        |JOIN marg ma ON ma.l_partkey = part_a
        |JOIN marg mb ON mb.l_partkey = part_b, t
        |ORDER BY lift DESC, part_a, part_b LIMIT 30""".stripMargin,
    "q71_event_transitions" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |t AS (
        |  SELECT prev_type, event_type, count(*) AS n_trans
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS row_tot FROM t GROUP BY 1)
        |SELECT t.prev_type, t.event_type, t.n_trans,
        |  CAST(n_trans AS DOUBLE) / CAST(row_tot AS DOUBLE) AS p
        |FROM t JOIN r USING (prev_type)
        |ORDER BY prev_type, event_type""".stripMargin,
    "x78_drift_report" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    CAST(ts AS DATE) <= DATE '2024-01-15' AS in_a,
        |    CAST(floor(value / 25.0) AS BIGINT) AS bucket
        |  FROM events),
        |cells AS (
        |  SELECT event_type, bucket,
        |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM e GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS tot_a,
        |    CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS tot_b
        |  FROM e GROUP BY 1)
        |SELECT cells.event_type, bucket, n_a, n_b,
        |  CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS share_a,
        |  CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS share_b,
        |  abs(CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE)
        |      - CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE)) AS share_diff,
        |  abs(CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE)
        |      - CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE)) > 0.02 AS drifted
        |FROM cells JOIN tot USING (event_type)
        |ORDER BY event_type, bucket""".stripMargin,
    "q69_session_funnel" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN epoch_s - lag(epoch_s) OVER w <= 1800 THEN 0 ELSE 1 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM g),
        |fv AS (
        |  SELECT user_id, session_idx, count(*) AS n_events,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
        |  FROM s GROUP BY 1, 2)
        |SELECT fv.user_id, fv.session_idx, fv.n_events,
        |  fv.first_view IS NOT NULL AS has_view,
        |  max(CASE WHEN s.event_type = 'click' AND s.ts > fv.first_view
        |           THEN 1 ELSE 0 END) = 1 AS converted
        |FROM s JOIN fv USING (user_id, session_idx)
        |GROUP BY fv.user_id, fv.session_idx, fv.n_events, fv.first_view
        |ORDER BY fv.user_id, fv.session_idx""".stripMargin,
    "q66_chisq_cells" ->
      """WITH obs AS (
        |  SELECT event_type, dayname(ts) AS day_name, count(*) AS n_obs
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(sum(n_obs) AS BIGINT) AS row_tot FROM obs GROUP BY 1),
        |c AS (SELECT day_name, CAST(sum(n_obs) AS BIGINT) AS col_tot FROM obs GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs),
        |e AS (
        |  SELECT obs.event_type, obs.day_name, obs.n_obs,
        |    CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
        |      / CAST(n_total AS DOUBLE) AS expected
        |  FROM obs JOIN r USING (event_type) JOIN c USING (day_name), t)
        |SELECT event_type, day_name, n_obs, expected,
        |  (CAST(n_obs AS DOUBLE) - expected) * (CAST(n_obs AS DOUBLE) - expected)
        |    / expected AS contrib
        |FROM e ORDER BY event_type, day_name""".stripMargin,
    "q67_retention_cohorts" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
        |active AS (
        |  SELECT cohort_day, date_diff('day', cohort_day, day) AS "offset",
        |    count(DISTINCT e.user_id) AS n_active
        |  FROM e JOIN cohort USING (user_id) GROUP BY 1, 2),
        |sizes AS (SELECT cohort_day, count(*) AS n_cohort FROM cohort GROUP BY 1)
        |SELECT a.cohort_day, "offset", n_active, n_cohort,
        |  CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention
        |FROM active a JOIN sizes USING (cohort_day)
        |ORDER BY cohort_day, "offset"""".stripMargin,
    "q64_mad_outliers" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |r1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |med AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS med
        |  FROM r1 GROUP BY 1),
        |d AS (
        |  SELECT e.event_id, e.event_type, e.value, med.med,
        |    abs(e.value - med.med) AS dev
        |  FROM e JOIN med USING (event_type)),
        |r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |mad AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN dev END) AS mad
        |  FROM r2 GROUP BY 1)
        |SELECT event_id, d.event_type, value, med, mad.mad, dev
        |FROM d JOIN mad USING (event_type)
        |WHERE dev > 3.0 * mad.mad
        |ORDER BY event_id""".stripMargin,
    "q80_seasonal_backtest" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l7 AS (
        |  SELECT d.event_type, count(*) AS n_eval_seasonal,
        |    CAST(sum(abs(d.n - f.n)) AS BIGINT) AS abs_err_seasonal
        |  FROM daily d JOIN daily f
        |    ON f.event_type = d.event_type AND f.day = d.day - 7
        |  GROUP BY 1),
        |l1 AS (
        |  SELECT d.event_type, count(*) AS n_eval_naive,
        |    CAST(sum(abs(d.n - f.n)) AS BIGINT) AS abs_err_naive
        |  FROM daily d JOIN daily f
        |    ON f.event_type = d.event_type AND f.day = d.day - 1
        |  GROUP BY 1)
        |SELECT event_type, n_eval_seasonal, abs_err_seasonal,
        |  CAST(abs_err_seasonal AS DOUBLE) / CAST(n_eval_seasonal AS DOUBLE) AS mae_seasonal,
        |  n_eval_naive, abs_err_naive,
        |  CAST(abs_err_naive AS DOUBLE) / CAST(n_eval_naive AS DOUBLE) AS mae_naive
        |FROM l7 JOIN l1 USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q65_ewma_daily" -> {
      val h = 8
      val lags = (0 until h)
        .map(j => s"lag(n_events, $j) OVER w AS l$j").mkString(", ")
      val num = (0 until h)
        .map(j => s"COALESCE(CAST(l$j AS DOUBLE) * ${math.pow(0.5, j)}, 0.0)")
        .mkString(" + ")
      val den = (0 until h)
        .map(j => s"CASE WHEN l$j IS NULL THEN 0.0 ELSE ${math.pow(0.5, j)} END")
        .mkString(" + ")
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
         |  FROM events GROUP BY 1, 2),
         |l AS (
         |  SELECT event_type, day, n_events, $lags
         |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
         |SELECT event_type, day, n_events, ($num) / ($den) AS ewma
         |FROM l ORDER BY event_type, day""".stripMargin
    },
    "q61_sessionize_batch" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN epoch_s - lag(epoch_s) OVER w <= 1800 THEN 0 ELSE 1 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  max(epoch_s) - min(epoch_s) AS duration_s,
        |  count(DISTINCT event_type) AS n_types
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q62_pareto_abc" ->
      """WITH r AS (
        |  SELECT l_partkey,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
        |      * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) AS rev_dec
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(rev_dec) AS total_dec FROM r),
        |c AS (
        |  SELECT l_partkey, rev_dec,
        |    CAST(sum(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey) AS DOUBLE)
        |      / CAST(total_dec AS DOUBLE) AS cum_share
        |  FROM r, t)
        |SELECT l_partkey, CAST(rev_dec AS DOUBLE) AS revenue, cum_share,
        |  CASE WHEN cum_share <= 0.8 THEN 'A'
        |       WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
        |FROM c ORDER BY l_partkey""".stripMargin,
    "q63_zscore_outliers" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value,
        |    CAST(round(value * 100.0) AS BIGINT) AS x
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM e GROUP BY 1),
        |z AS (
        |  SELECT event_id, e.event_type, value,
        |    (CAST(n AS DOUBLE) * CAST(x AS DOUBLE) - CAST(sx AS DOUBLE))
        |      / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS z
        |  FROM e JOIN m USING (event_type))
        |SELECT event_id, event_type, value, z
        |FROM z WHERE abs(z) > 2.5 ORDER BY event_id""".stripMargin,
    "q59_period_over_period" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day, n_events,
        |    lag(n_events) OVER (PARTITION BY event_type ORDER BY day) AS prev_events
        |  FROM d)
        |SELECT event_type, day, n_events, prev_events,
        |  n_events - prev_events AS delta,
        |  CAST(n_events - prev_events AS DOUBLE) / CAST(prev_events AS DOUBLE) AS pct_change
        |FROM l ORDER BY event_type, day""".stripMargin,
    "q56_corr_moments" ->
      // the moment sums run in HUGEINT (the twin of Spark's DECIMAL(38,0)
      // accumulation): Σx² outgrows int64 at the 60 M-row decade
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(round(value * 100.0) AS BIGINT) AS HUGEINT) AS x,
        |    CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS HUGEINT) AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy,
        |    sum(x * y) AS sxy
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n,
        |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_value,
        |  CAST(sxx * n - sx * sx AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 10000.0 AS var_value,
        |  CAST(sxy * n - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(sxx * n - sx * sx AS DOUBLE))
        |      * sqrt(CAST(syy * n - sy * sy AS DOUBLE))) AS corr_vk
        |FROM m ORDER BY event_type""".stripMargin,
    "q57_resample_ffill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS day_max
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(min(day) AS TIMESTAMP),
        |    CAST(max(day) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM daily GROUP BY user_id)
        |SELECT s.user_id, s.day,
        |  last_value(d.day_max IGNORE NULLS) OVER (PARTITION BY s.user_id ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_max,
        |  d.day_max IS NULL AS gap_filled
        |FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
        |ORDER BY s.user_id, s.day""".stripMargin,
    "q53_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS first_view
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS first_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.first_view
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS first_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.first_click
        |  GROUP BY e.user_id)
        |SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
        |  CAST(1 + CASE WHEN c.first_click IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN p.first_purchase IS NULL THEN 0 ELSE 1 END AS BIGINT) AS funnel_stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,
    "q43_quantile_binning" ->
      """SELECT event_type, CAST(decile AS BIGINT) AS decile,
        |  count(*) AS n_events, min(value) AS lo, max(value) AS hi
        |FROM (SELECT event_type, value,
        |        ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY event_type, decile""".stripMargin,
    "q44_time_range_window" ->
      """SELECT event_id, user_id, ts,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch(date_trunc('second', ts))
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
        |FROM events ORDER BY event_id""".stripMargin,
    // x182: DuckDB probes the same JSON with json_extract; the string
    // form of an integer field renders identically ("42" both engines)
    "x182_variant_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |  CAST(sum(strlen(CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR))) AS BIGINT) AS k_str_len_sum,
        |  CAST(sum(CASE WHEN json_extract(props, '$.not_there') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q22_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q23_json_construct" ->
      """SELECT event_id,
        |  to_json(struct_pack(event_id := event_id, event_type := event_type, user_id := user_id))::VARCHAR AS payload
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin,
    "q24_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS name_upper,
        |  substr(c_name, 3, 5) AS name_mid,
        |  CAST(length(c_name) AS BIGINT) AS name_len,
        |  concat(c_mktsegment, '_', c_name) AS seg_name
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q25_case_when_buckets" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |            WHEN o_totalprice < 150000 THEN 'mid'
        |            ELSE 'high' END AS price_band,
        |  count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
        |FROM orders GROUP BY 1 ORDER BY price_band""".stripMargin,
    "q26_time_parts" ->
      """SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS day,
        |  CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
        |  dayname(ts) AS day_name,
        |  count(*) AS n_events,
        |  CAST(min(epoch(date_trunc('second', ts))) AS BIGINT) AS first_epoch
        |FROM events GROUP BY 1, 2, 3 ORDER BY day, hour_of_day""".stripMargin,
    "q27_event_day_window" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-05 23:59:59'
        |ORDER BY event_id""".stripMargin)
}
