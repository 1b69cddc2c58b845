package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

/** One (key, value) input row of [[TopKWithRest]]; `None` is SQL NULL. */
final case class Ranked(key: String, value: Option[Double])

/** The `k` best entries in rank order, the sum of every evicted non-null
  * value and the sum of every non-null value; `None` when the sum is
  * over no values. */
final case class TopKBuffer(top: Seq[Ranked], rest: Option[Double],
                            total: Option[Double])

/** Typed custom aggregate: the `k` best (key, value) rows under
  * (value desc nulls last, key asc nulls first) — Spark's own ordering
  * for `orderBy(value.desc_nulls_last, key.asc)`, NaN greatest — plus
  * the sum of the rest and the grand total, in one pass; the buffer is
  * the result. The buffer is bounded by `k`, and
  * `merge` keeps the k best of two buffers and adds the evicted values
  * to the rest, so it is associative and partial aggregation runs
  * map-side. Exposed through `functions.udaf`; [[graft.ops.TopK]] turns
  * its one row into the doughnut's top-K + "Other" rows. A case class, so
  * two plans over the same rollup compare equal and share an exchange. */
final case class TopKWithRest(k: Int)
    extends Aggregator[Ranked, TopKBuffer, TopKBuffer] {
  require(k >= 0, s"TopKWithRest: k must be >= 0, got $k")

  /** < 0 when `a` ranks ahead of `b`. */
  private def compare(a: Ranked, b: Ranked): Int = {
    val byValue = (a.value, b.value) match {
      case (Some(x), Some(y)) => SQLOrderingUtil.compareDoubles(y, x)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case (None, None) => 0
    }
    if (byValue != 0) byValue
    else (a.key, b.key) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x, y) => UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    }
  }

  private def plus(rest: Option[Double], v: Option[Double]): Option[Double] =
    v.fold(rest)(x => Some(rest.fold(x)(_ + x)))

  override def zero: TopKBuffer = TopKBuffer(Vector.empty, None, None)

  override def reduce(b: TopKBuffer, a: Ranked): TopKBuffer = {
    val total = plus(b.total, a.value)
    val at = b.top.indexWhere(compare(a, _) < 0)
    if (at < 0 && b.top.size >= k) TopKBuffer(b.top, plus(b.rest, a.value), total)
    else {
      val ins = if (at < 0) b.top :+ a else b.top.patch(at, Seq(a), 0)
      if (ins.size <= k) TopKBuffer(ins, b.rest, total)
      else TopKBuffer(ins.take(k), plus(b.rest, ins.last.value), total)
    }
  }

  override def merge(x: TopKBuffer, y: TopKBuffer): TopKBuffer = {
    val (top, evicted) = (x.top ++ y.top).sortWith(compare(_, _) < 0).splitAt(k)
    TopKBuffer(top, evicted.foldLeft(plus(x.rest, y.rest))((r, e) => plus(r, e.value)),
      plus(x.total, y.total))
  }

  override def finish(b: TopKBuffer): TopKBuffer = b

  override def bufferEncoder: Encoder[TopKBuffer] = Encoders.product[TopKBuffer]
  override def outputEncoder: Encoder[TopKBuffer] = Encoders.product[TopKBuffer]
}
