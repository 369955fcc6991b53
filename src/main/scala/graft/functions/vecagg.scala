package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/**
 * Element-wise vector mean — the one custom UDAF surface the rebuild needs
 * (class embedding = mean of per-label sentence embeddings,
 * /root/reference/bertmap/bert/bert_static.py:99-109). Everything else in
 * the engine uses built-in aggregates; SURVEY.md §7 pins this as the only
 * custom Aggregator.
 */
object vecagg {

  final case class VecBuf(sum: Array[Double], n: Long)

  /** Typed Aggregator: mean over Array[Double] columns (null/empty-safe;
    * ragged inputs are rejected — schema drift should fail fast). */
  object VectorMean extends Aggregator[Array[Double], VecBuf, Array[Double]] {
    override def zero: VecBuf = VecBuf(Array.empty, 0L)
    override def reduce(b: VecBuf, a: Array[Double]): VecBuf = {
      if (a == null || a.isEmpty) b
      else if (b.n == 0L) VecBuf(a.clone(), 1L)
      else {
        require(b.sum.length == a.length,
          s"ragged vectors: ${b.sum.length} vs ${a.length}")
        var i = 0
        while (i < a.length) { b.sum(i) += a(i); i += 1 }
        VecBuf(b.sum, b.n + 1)
      }
    }
    override def merge(x: VecBuf, y: VecBuf): VecBuf = {
      if (x.n == 0) y
      else if (y.n == 0) x
      else {
        require(x.sum.length == y.sum.length, "ragged vectors across partitions")
        var i = 0
        while (i < x.sum.length) { x.sum(i) += y.sum(i); i += 1 }
        VecBuf(x.sum, x.n + y.n)
      }
    }
    override def finish(b: VecBuf): Array[Double] =
      if (b.n == 0) Array.empty else b.sum.map(_ / b.n)
    override def bufferEncoder: Encoder[VecBuf] = Encoders.product[VecBuf]
    override def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }
}
