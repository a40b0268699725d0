package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k aggregate: keeps the k best (score desc, id asc) scored
  * neighbors per group with a fixed-size buffer.
  *
  * Why this exists: the window formulation of top-k
  * (`row_number().over(partitionBy(query))` then `rank <= k`) shuffles
  * EVERY scored pair to the reducer before pruning — Q×N rows across the
  * exchange. As a partial-merge aggregate, the map side prunes each
  * partition's candidates down to k before the shuffle, so the exchange
  * carries Q × partitions × k rows — at 100 TB (N in the billions, k ~ 10)
  * that is the difference between shuffling terabytes and megabytes.
  *
  * The buffer is a sorted Seq capped at k; reduce does an insertion into a
  * k-element array (k is small by contract), merge is a bounded merge of
  * two sorted runs. Ordering ties on score break by ascending id, so
  * results are deterministic and identical to the window formulation.
  * Internal to graft: [[graft.operators.Similarity]]'s top-k operators rank
  * through it.
  */
private[graft] object TopK {

  case class Scored(score: Double, id: Long)

  private val ord: Ordering[Scored] =
    Ordering.by((s: Scored) => (-s.score, s.id))

  def aggregator(k: Int): Aggregator[Scored, Seq[Scored], Seq[Scored]] =
    new Aggregator[Scored, Seq[Scored], Seq[Scored]] {
      override def zero: Seq[Scored] = Vector.empty

      override def reduce(buf: Seq[Scored], x: Scored): Seq[Scored] = {
        if (buf.length == k && ord.gteq(x, buf.last)) buf
        else {
          val i = buf.indexWhere(b => ord.lt(x, b)) match {
            case -1 => buf.length
            case n  => n
          }
          (buf.take(i) :+ x) ++ buf.drop(i).take(k - i - 1)
        }
      }

      override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] = {
        val out = Vector.newBuilder[Scored]
        var i = 0; var j = 0; var n = 0
        while (n < k && (i < a.length || j < b.length)) {
          if (j >= b.length || (i < a.length && ord.lteq(a(i), b(j)))) {
            out += a(i); i += 1
          } else { out += b(j); j += 1 }
          n += 1
        }
        out.result()
      }

      override def finish(buf: Seq[Scored]): Seq[Scored] = buf
      override def bufferEncoder: Encoder[Seq[Scored]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
      override def outputEncoder: Encoder[Seq[Scored]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
    }

  /** Column form: `topK(k, score, id)` → array<struct<score,id>> sorted
    * best-first. (The udaf flattens the product encoder: one parameter per
    * case-class field.)
    */
  def topK(k: Int, score: Column, id: Column): Column =
    udaf(aggregator(k), Encoders.product[Scored]).apply(score, id)
}
