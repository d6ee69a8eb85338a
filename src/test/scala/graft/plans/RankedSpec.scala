package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.SparkPartitionID
import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** The window-spelled ranking helpers: the per-key top-k equals the
  * single-window spelling and plans as one (the partition-local bound
  * is Spark's partial WindowGroupLimit, not a hand-built phase), and
  * the dense numbering equals a global row_number without a global
  * window.
  */
class RankedSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // 8 partitions of 50 rows over 3 keys: every partition holds > k rows
  // of every key, so a partition-local limit really prunes. Each key's
  // v lies in its own range (g·1000 plus a value distinct per id, 919
  // being prime to 1000), so a local limit that pruned across keys
  // would lose whole keys.
  private def frame: DataFrame = spark.range(0, 400, 1, 8)
    .select((col("id") % 3).as("g"),
      ((col("id") % 3) * 1000 + (col("id") * 919) % 1000).as("v"), col("id"))

  private def singleWindow(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      k: Int): DataFrame =
    df.withColumn("rank", row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col("rank") <= k)

  /** The executed plan's nodes, through the adaptive wrapper. */
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case p => p }

  private def readsPartitionId(df: DataFrame): Boolean =
    nodes(df).exists(_.expressions.exists(_.exists(_.isInstanceOf[SparkPartitionID])))

  test("top-k equals the single row_number window: keyed and global, asc and desc") {
    val df = frame
    assert(df.rdd.getNumPartitions == 8)
    for (keys <- Seq(Seq(col("g")), Nil);
         order <- Seq(Seq(col("v"), col("id")), Seq(col("v").desc, col("id")))) {
      val got = TopKPerKey.ranked(df, keys, order, 5)
      assert(got.columns.toSeq == Seq("g", "v", "id", "rank"))
      val rows = got.collect().toSet
      assert(rows == singleWindow(df, keys, order, 5).collect().toSet, s"keys=$keys order=$order")
      assert(rows.size == (if (keys.isEmpty) 5 else 15))
    }
  }

  test("a keyed top-k plans one exchange, above a partial WindowGroupLimit") {
    val got = TopKPerKey.ranked(frame, Seq(col("g")), Seq(col("v"), col("id")), 5)
    val exchanges = nodes(got).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, got.queryExecution.executedPlan.treeString)
    val partials = collect(exchanges.head.child) {
      case l: WindowGroupLimitExec if l.mode == Partial => l
    }
    assert(partials.nonEmpty, got.queryExecution.executedPlan.treeString)
    assert(!readsPartitionId(got))
  }

  test("a global top-k plans a TakeOrderedAndProject and no exchange") {
    val got = TopKPerKey.ranked(frame, Nil, Seq(col("v").desc, col("id")), 5)
    val ns = nodes(got)
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      got.queryExecution.executedPlan.treeString)
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeExec]),
      got.queryExecution.executedPlan.treeString)
    assert(!readsPartitionId(got))
  }

  test("dense numbering equals a global row_number, and plans no global window") {
    // ties on a are broken by id: the order is total
    val df = spark.range(0, 300, 1, 6).select(((col("id") * 37) % 50).as("a"), col("id"))
    val (numbered, n) = TopKPerKey.denseNumber(df, Seq(col("a"), col("id")), "rn")
    val want = df.withColumn("rn",
      row_number().over(Window.orderBy(col("a"), col("id"))).cast(LongType))
    assert(n == 300L)
    assert(numbered.columns.toSeq == Seq("a", "id", "rn"))
    assert(numbered.collect().toSet == want.collect().toSet)
    val windows = numbered.queryExecution.optimizedPlan.collect { case w: WindowNode => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }
}
