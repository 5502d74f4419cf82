package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Buffer-vectorized covariance kernel (optimization round 18): the exact
  * fixed-point outer-product sum of [[graft.operators.Pca.covariance]]
  * carried in ONE long-array buffer per partition instead of a d²-per-row
  * posexplode through a (i, j)-keyed hash aggregate.
  *
  * The arithmetic is BIT-IDENTICAL to the explode formulation it
  * replaces: per row and per (i, j), the quantized term is
  * `floor(eᵢ·eⱼ·1e8 + 0.5).toLong` — the same IEEE sequence as the
  * expression `floor(prod * 1e8 + 0.5).cast("long")` inside
  * Stable.fixMean — and long addition is exact and order-free, so the
  * final (sums, n) pair equals the per-group (sum, count) pair of the
  * old plan for every cell. The division/stab tail stays in expression
  * land (Pca.covariance), unchanged.
  *
  * Why it wins (guide §1.2 per-task work): at d = 64 the explode pushed
  * 4 096 narrow rows per vector through hash-aggregate probing — ~20 M
  * row operations at sf0.1 for what is arithmetically a d²-add per row.
  * The buffer form does the adds in a tight loop on one flat array (the
  * [[ArrayMeanAgg]] buffer-vectorization precedent).
  * Partial aggregation is preserved: `merge` adds buffers, so each map
  * task ships one d²-long array, same as the old partial aggregate.
  */
class OuterFixSumAgg extends Aggregator[Seq[Double], (Array[Long], Long), (Seq[Long], Long)] {

  override def zero: (Array[Long], Long) = (Array.emptyLongArray, 0L)

  override def reduce(b: (Array[Long], Long), a: Seq[Double]): (Array[Long], Long) = {
    // a NULL vector matches the explode form exactly: posexplode over the
    // null product array emitted nothing, so the row joined neither the
    // per-cell sum nor the per-cell count. (Element-level nulls are out of
    // contract — `prepared` vectors are dense, as the old kernel also
    // assumed.)
    if (a == null) return b
    val d = a.size
    val s = if (b._2 == 0L && b._1.length == 0) new Array[Long](d * d) else b._1
    val v = a.toArray
    var i = 0
    while (i < d) {
      val vi = v(i)
      val base = i * d
      var j = 0
      while (j < d) {
        s(base + j) += math.floor(vi * v(j) * 1e8 + 0.5).toLong
        j += 1
      }
      i += 1
    }
    (s, b._2 + 1)
  }

  override def merge(x: (Array[Long], Long), y: (Array[Long], Long)): (Array[Long], Long) = {
    if (x._1.length == 0) return (y._1, x._2 + y._2)
    if (y._1.length == 0) return (x._1, x._2 + y._2)
    val s = x._1
    var i = 0
    while (i < s.length) { s(i) += y._1(i); i += 1 }
    (s, x._2 + y._2)
  }

  override def finish(b: (Array[Long], Long)): (Seq[Long], Long) =
    (b._1.toSeq, b._2)

  override def bufferEncoder: Encoder[(Array[Long], Long)] =
    ExpressionEncoder[(Array[Long], Long)]()
  override def outputEncoder: Encoder[(Seq[Long], Long)] =
    ExpressionEncoder[(Seq[Long], Long)]()
}
