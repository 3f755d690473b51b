package graft.udaf

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.functions.udaf

/** Typed UDAF (SURVEY.md §2.4 A7 / §2.10): element-wise mean of float
  * vectors — the per-label embedding centroid used by the IVF similarity
  * path. Distributed-safe: partial sums per partition, associative merge,
  * single finish — the same partial/final shape Catalyst gives builtin
  * aggregates, so it scales like sum() at 100 TB.
  */
case class CentroidBuf(sums: Array[Double], n: Long)

object CentroidAgg extends Aggregator[Seq[Float], CentroidBuf, Seq[Double]] {
  override def zero: CentroidBuf = CentroidBuf(Array.empty[Double], 0L)

  override def reduce(b: CentroidBuf, v: Seq[Float]): CentroidBuf =
    if (v == null) b else add(b, v.length, v(_))

  /** Adds one vector of `len` elements, element i read by `at(i)`: the
    * per-row rule of [[reduce]], which the IVF trainer's Lloyd's step
    * (LlmSimilarity.lloydStep) also applies to its raw array rows. */
  def add(b: CentroidBuf, len: Int, at: Int => Double): CentroidBuf =
    if (b.sums.isEmpty) {
      val s = new Array[Double](len)
      var i = 0
      while (i < len) { s(i) = at(i); i += 1 }
      CentroidBuf(s, 1L)
    } else {
      var i = 0
      while (i < len) { b.sums(i) += at(i); i += 1 }
      CentroidBuf(b.sums, b.n + 1L)
    }

  override def merge(a: CentroidBuf, b: CentroidBuf): CentroidBuf = {
    if (a.sums.isEmpty) b
    else if (b.sums.isEmpty) a
    else {
      var i = 0
      while (i < a.sums.length) { a.sums(i) += b.sums(i); i += 1 }
      CentroidBuf(a.sums, a.n + b.n)
    }
  }

  override def finish(r: CentroidBuf): Seq[Double] =
    if (r.n == 0L) Seq.empty else r.sums.toSeq.map(_ / r.n)

  override def bufferEncoder: Encoder[CentroidBuf] = Encoders.product[CentroidBuf]
  override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()

  /** Column-function form: centroid(embeddingCol). */
  val asUdaf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(CentroidAgg, ExpressionEncoder[Seq[Float]]())

  def apply(c: Column): Column = asUdaf(c)
}
