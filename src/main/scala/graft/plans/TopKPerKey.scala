package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit, row_number, spark_partition_id, when}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.graft.PlanBridge

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps

/** Grouped bounded top-k as a CUSTOM PHYSICAL OPERATOR — the (c) tier of
  * the extension ladder (`LogicalPlan` + `SparkStrategy` + `SparkPlan`),
  * which the repo's other extensions (native `Expression`s, an optimizer
  * `Rule`) do not exercise.
  *
  * Semantics: for each key, the first `k` child rows under `order`
  * (callers supply a TOTAL order — append a tiebreak column — or accept
  * a nondeterministic choice among ties, exactly as with window
  * row_number). Output schema = child schema; no rank column.
  *
  * Physical shape, and why it beats the window spelling at scale:
  * a partial [[TopKPerKeyExec]] keeps one bounded k-heap per key per
  * input partition — O(n log k) with NO SORT of the input and no
  * per-partition spill — so at most k·partitions rows per key reach the
  * exchange; the final exec (ClusteredDistribution on the keys, so
  * EnsureRequirements plans the one hash exchange) merges heaps and
  * emits each key's k winners. The `Window(row_number) + Filter` plan —
  * even with Spark's WindowGroupLimit pushdown — still SORTS every
  * partition on (keys, order) before limiting; the heap never does.
  * The TopKAgg typed Aggregator gets the same shuffle bound but returns
  * packed structs through an aggregate; this operator streams plain
  * rows and needs no struct packing/unpacking.
  *
  * Memory contract: state is one k-heap per DISTINCT KEY per partition
  * (k·|keys| rows), like an in-memory hash aggregate WITHOUT spill —
  * right for the grouped-top-k shapes this engine uses (bounded key
  * domains: event types, query ids, sources). A key domain that does
  * not fit executor memory needs the window spelling (sort-based,
  * spillable) — the rewrite rule deliberately stays opt-in rather than
  * session-global for exactly this reason.
  */
case class TopKPerKeyPlan(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, "k must be >= 1")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val keyExprs = keys
    val sortOrder = order
    val schema = child.output
    val limit = k
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      val ord = new LazilyGeneratedOrdering(sortOrder, schema)
      // per key: a max-heap under `ord` (head = current worst of the
      // kept k) so a better row evicts the worst in O(log k); keys are
      // UnsafeRows (byte-wise equals/hashCode), stored rows are copies
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](limit + 1, ord.reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < limit) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy()): Unit
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      heaps.values.forEach { h =>
        // drain each heap in `order` (ascending under ord) so output is
        // locally deterministic given a total order
        val rows = new Array[InternalRow](h.size())
        var i = rows.length - 1
        while (i >= 0) { rows(i) = h.poll(); i -= 1 }
        out ++= rows
      }
      numOut += out.length
      out.iterator
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKey {

  /** Per-key bounded top-k through the custom operator. `order` is
    * (column name, ascending?) pairs and should form a total order for
    * deterministic results. Expressions are resolved directly against
    * the child's analyzed output, so the plan is born fully resolved —
    * no dependence on analyzer passes over the custom node.
    */
  def topk(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    PlanBridge.ensureStrategy(spark, TopKPerKeyStrategy)
    val child = PlanBridge.logicalPlan(df)
    def attr(n: String): Attribute = child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name).mkString(", ")}"))
    val keyExprs: Seq[Expression] = keys.map(attr)
    val sortOrders = order.map { case (n, asc) =>
      SortOrder(attr(n),
        if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    PlanBridge.ofRows(spark, TopKPerKeyPlan(keyExprs, sortOrders, k, child))
  }

  /** Per-key top-k as one `row_number` window: rank within `keys` under
    * `order` and keep rank <= k. Spark plans the filtered window with a
    * partition-local WindowGroupLimit below the exchange (at most k rows
    * per key per partition shuffle) and, for empty `keys` (a global
    * top-k), a TakeOrderedAndProject. Returns `df`'s columns plus
    * `rankCol` (1-based under `order`, which should be a total order
    * for a deterministic choice among ties).
    */
  def ranked(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
      rankCol: String = "rank"): DataFrame =
    df.withColumn(rankCol, row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col(rankCol) <= k)

  /** A 1-based global row number `numCol` under `order` WITHOUT a global
    * window: range-partition on `order`, number rows within each
    * partition, and add the partition's offset — the counts of all lower
    * partitions, from one collect of (partition, count) pairs (one long
    * per partition, never rows). The range-partitioned frame is pinned so
    * the count job and the numbering read it once. Returns the numbered
    * frame (`df`'s columns plus `numCol`) and the total row count.
    */
  def denseNumber(df: DataFrame, order: Seq[Column],
      numCol: String): (DataFrame, Long) = {
    val parts = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_part", spark_partition_id())
      .pinned
    val counts = parts.groupBy(col("_part")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pids = counts.keys.toSeq.sorted
    val offCol = pids.foldLeft(lit(0L)) { (acc, p) =>
      when(col("_part") === p, lit(pids.filter(_ < p).map(counts).sum)).otherwise(acc) }
    (parts.withColumn(numCol,
        row_number().over(Window.partitionBy(col("_part")).orderBy(order: _*))
          .cast(LongType) + offCol)
      .drop("_part"),
      counts.values.sum)
  }

  /** x178: per-event-type top-5 events by (value desc, event_id) through
    * [[TopKPerKeyExec]] — the oracle is the plain window row_number SQL,
    * so the gate proves the operator's semantics against the relational
    * spelling.
    */
  def topkExecQuery(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("user_id"), col("value"))
    topk(ev, Seq("event_type"), Seq("value" -> false, "event_id" -> true), k)
      .orderBy(col("event_type"), col("value").desc, col("event_id"))
  }

  private val rewriteCache = SessionMemo[(String, Int), DataFrame]("TopKPerKey.rewrite")

  /** x179: the WINDOW SPELLING, rewritten by [[TopKRewrite]] into the
    * custom operator — the "users keep their SQL" integration. The rule
    * is scoped to this materialization (ensured, eagerly checkpointed,
    * removed); the query REQUIRES the rewrite actually fired, so a
    * silently-dead rule fails the gate rather than falling back. The
    * pinned result is built once per (session, dataset, k).
    */
  def topkRewriteQuery(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    rewriteCache(s, (dir, k)) {
      PlanBridge.ensureStrategy(s, TopKPerKeyStrategy)
      PlanBridge.ensureOptimizerRule(s, TopKRewrite)
      try {
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("user_id"), col("value"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id").asc)
        val df = ev
          .withColumn("rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("rn") <= k).drop("rn")
          .orderBy(col("event_type"), col("value").desc, col("event_id"))
        require(df.queryExecution.optimizedPlan.exists(_.isInstanceOf[TopKPerKeyPlan]),
          s"TopKRewrite did not fire:\n${df.queryExecution.optimizedPlan}")
        df.pinned // materialize while the rule is active
      } finally PlanBridge.removeOptimizerRule(s, TopKRewrite)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x178_topk_exec" -> ((s: SparkSession, dir: String) => topkExecQuery(s, dir)),
    "x179_topk_rewrite" -> ((s: SparkSession, dir: String) => topkRewriteQuery(s, dir)))

  private val WindowTopkOracle: String =
    """SELECT event_type, event_id, user_id, value FROM (
      |  SELECT event_type, event_id, user_id, value,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value DESC, event_id ASC) AS rn
      |  FROM events) WHERE rn <= 5
      |ORDER BY event_type, value DESC, event_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "x178_topk_exec" -> WindowTopkOracle,
    // x179's oracle is the IDENTICAL window SQL: the rewritten plan must
    // preserve the spelling's semantics exactly
    "x179_topk_rewrite" -> WindowTopkOracle)
}
