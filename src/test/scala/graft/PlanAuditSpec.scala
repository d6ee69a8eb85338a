package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{BaseLimitExec, FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

import graft.engine.Tables
import graft.plans.TopKPerKey

/** Automated sweep of every registered query's physical plan — the
  * machine-checked core of the PLANS.md hand audits: no query may plan
  * a CartesianProduct (an all-pairs join that survives to execution is
  * exactly the shape that detonates at 100 TB). Broadcast nested-loop
  * joins against scalar/k-row frames are the accepted pattern and plan
  * differently, so they pass untouched.
  *
  * Queries whose PAIR ALGEBRA is deliberately quadratic at test scale
  * (declared verification legs) still must not use CartesianProduct —
  * they are spelled as key joins; an empty whitelist is the point.
  *
  * Every rule reads the plan through [[AdaptiveSparkPlanHelper]]: under
  * AQE the executed plan of a query that shuffles is an
  * AdaptiveSparkPlanExec, a leaf to a plain `collect`.
  */
class PlanAuditSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The registered queries whose executed plan `bad` flags, plus any
    * that fail to plan.
    */
  private def offenders(bad: SparkPlan => Boolean): Seq[String] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try Some(name).filter(_ => bad(fn(spark, Sf).queryExecution.executedPlan))
      catch {
        case e: Throwable => Some(s"$name (failed to plan: ${e.getMessage.take(80)})")
      }
    }

  /** A Window with an empty partitionSpec is a single-reducer funnel;
    * it is acceptable ONLY over provably bounded input — below it there
    * must be an Aggregate, a Limit, or a ranked top-k's bounded output
    * (TakeOrderedAndProject for a global one, WindowGroupLimit).
    */
  private def unboundedGlobalWindow(plan: SparkPlan): Boolean =
    collect(plan) { case w: WindowExec if w.partitionSpec.isEmpty => w }.exists { w =>
      collect(w.child) {
        case b @ (_: BaseAggregateExec | _: BaseLimitExec | _: TakeOrderedAndProjectExec |
            _: WindowGroupLimitExec) => b
      }.isEmpty
    }

  /** The lanes whose global window numbers a whole input on purpose: the
    * star's surrogate keys over its small dimensions (f01, f02, f04),
    * the trained vocabulary's rank (x165), the vocab-growth document
    * spine (x93) and the sorted-neighborhood name order (x94). The sweep
    * must flag exactly these: a lane that stops numbering leaves the
    * list, and any new funnel fails.
    */
  private val GlobalNumbering = Seq("f01_dim_aircrafts", "f02_dim_airport", "f04_dim_seat",
    "x165_unigram_lm_train", "x93_vocab_growth", "x94_sorted_neighborhood")

  test("no registered query plans a CartesianProduct") {
    val bad = offenders(p => collect(p) { case c: CartesianProductExec => c }.nonEmpty)
    assert(bad.isEmpty, s"queries with CartesianProduct or plan failures: ${bad.mkString(", ")}")
  }

  test("no un-pruned global window: every empty-partition Window sits above a local prune, aggregate, or limit") {
    // The repo discipline (pqErrorOutliers / TrendingTokens.topK) made
    // machine-checked.
    val bad = offenders(unboundedGlobalWindow)
    assert(bad == GlobalNumbering,
      s"queries with an unbounded global window: ${bad.mkString(", ")}")
  }

  test("the global-window rule flags a raw global row_number, not a global top-k") {
    val orders = Tables(spark, Sf, "orders")
    val order = Seq(col("o_totalprice").desc, col("o_orderkey"))
    def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
    assert(unboundedGlobalWindow(plan(
      orders.withColumn("rn", row_number().over(Window.orderBy(order: _*))))))
    assert(!unboundedGlobalWindow(plan(TopKPerKey.ranked(orders, Nil, order, 5))))
  }

  test("no shuffled join against a dimension-table side (nation/region broadcast)") {
    // nation and region are the star's k-row dimensions; a SortMergeJoin
    // or ShuffledHashJoin whose side scans them means a broadcast was
    // missed — the exchange costs more than shipping the whole table.
    def scansDim(side: SparkPlan): Boolean =
      collect(side) { case f: FileSourceScanExec => f }.exists(f =>
        f.relation.location.rootPaths.exists(p =>
          p.toString.contains("nation.parquet") || p.toString.contains("region.parquet")))
    val bad = offenders { plan =>
      collect(plan) {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }.exists(_.children.exists(scansDim))
    }
    assert(bad.isEmpty, s"queries shuffling a dimension join: ${bad.mkString(", ")}")
  }
}
