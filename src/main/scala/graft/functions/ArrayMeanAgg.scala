package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Element-wise mean of an ARRAY<DOUBLE> column as a typed `Aggregator`
  * (registered via `functions.udaf`, partial-aggregating like any
  * built-in: update adds a vector into one running-sum buffer, merge adds
  * buffers).
  *
  * This is the centroid-update aggregate of the k-means trainer. The
  * DataFrame-native formulation was posexplode → groupBy(cell, pos) avg →
  * collect_list + array_sort reassembly: a dim× row blowup and TWO
  * shuffles per Lloyd round just to average vectors. One Array buffer per
  * group carries the whole mean through a single hash aggregate.
  *
  * Means are stabilized in `finish` with the exact `Stable.stab` formula
  * (`floor(x·10^digits + 0.5)/10^digits`, IEEE-deterministic), so
  * converged centroids stay bit-identical run-to-run and the trainer's
  * exact-equality early stop keeps working.
  */
class ArrayMeanAgg(val digits: Int)
  extends Aggregator[Seq[Double], (Array[Double], Long), Seq[Double]] {

  override def zero: (Array[Double], Long) = (Array.emptyDoubleArray, 0L)

  override def reduce(b: (Array[Double], Long), a: Seq[Double]): (Array[Double], Long) =
    if (b._2 == 0L) (a.toArray, 1L)
    else {
      val s = b._1
      var i = 0
      while (i < s.length) { s(i) += a(i); i += 1 }
      (s, b._2 + 1)
    }

  override def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) =
    if (x._2 == 0L) y
    else if (y._2 == 0L) x
    else {
      val s = x._1
      var i = 0
      while (i < s.length) { s(i) += y._1(i); i += 1 }
      (s, x._2 + y._2)
    }

  override def finish(b: (Array[Double], Long)): Seq[Double] = {
    val p = math.pow(10, digits)
    val n = b._2.toDouble
    b._1.map(v => math.floor(v / n * p + 0.5) / p).toSeq
  }

  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    ExpressionEncoder[(Array[Double], Long)]()
  override def outputEncoder: Encoder[Seq[Double]] =
    ExpressionEncoder[Seq[Double]]()
}
