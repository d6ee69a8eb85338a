package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed per-group top-k aggregator (§2.8 UDAF surface): keeps the k
  * highest-scoring (score, id) pairs per group with ties broken by the
  * smaller id.
  *
  * Scale rationale: a window `row_number <= k` must shuffle EVERY row of
  * a group to one task before ranking; this Aggregator's partial buffers
  * never exceed k entries, so map-side combine reduces the shuffle to
  * k rows per (group, partition) — the same two-phase idea as
  * `graft.plans.TopKPerKey.twoPhase`, packaged as a reusable typed aggregate.
  */
final case class Scored(score: Double, id: Long)

final case class TopKBuf(items: Seq[Scored])

class TopKAgg(k: Int) extends Aggregator[Scored, TopKBuf, Seq[Scored]] {

  private val ord: Ordering[Scored] =
    Ordering.by((s: Scored) => (-s.score, s.id))

  private def trim(items: Seq[Scored]): Seq[Scored] =
    items.sorted(ord).take(k)

  override def zero: TopKBuf = TopKBuf(Seq.empty)

  override def reduce(b: TopKBuf, a: Scored): TopKBuf =
    TopKBuf(trim(b.items :+ a))

  override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf =
    TopKBuf(trim(b1.items ++ b2.items))

  override def finish(r: TopKBuf): Seq[Scored] = trim(r.items)

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]

  override def outputEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
}
