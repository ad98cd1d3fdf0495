package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k per group as a typed Aggregator — the brief's preferred
  * extension path (custom agg function) for an operator Spark lacks: a
  * window `row_number() <= k` materializes and sorts EVERY row per key
  * before discarding, while this aggregator keeps at most k candidates
  * per group in each partial buffer, so the shuffle carries k rows per
  * (partition × key) instead of all of them — the difference between
  * feasible and not at 100 TB fan-ins.
  *
  * Ordering: score DESC, id ASC (deterministic tie-break).
  */
object TopKAggregator {

  final case class Scored(id: Long, score: Double)

  final case class TopK(k: Int)
      extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {

    private def trim(xs: Seq[Scored]): Seq[Scored] =
      xs.sortBy(s => (-s.score, s.id)).take(k)

    override def zero: Seq[Scored] = Seq.empty
    override def reduce(b: Seq[Scored], a: Scored): Seq[Scored] =
      if (b.size < k || b.last.score < a.score ||
          (b.last.score == a.score && a.id < b.last.id)) trim(b :+ a)
      else b
    override def merge(x: Seq[Scored], y: Seq[Scored]): Seq[Scored] = trim(x ++ y)
    override def finish(r: Seq[Scored]): Seq[Scored] = trim(r)
    override def bufferEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }
}
