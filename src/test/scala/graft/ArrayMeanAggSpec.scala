package graft

import graft.functions.{ArrayMeanAgg, Stable}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ArrayMeanAgg must reproduce the DataFrame-native centroid update it
  * replaced (posexplode → per-dimension stab(avg) → reassembly), value for
  * value.
  */
class ArrayMeanAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("ArrayMeanAgg == posexplode/avg formulation, value for value") {
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      (i % 7, Array.tabulate(16)(j => math.sin(i * 31 + j) * 10 + j))
    }
    val df = rows.toDF("cell", "e")

    val mean = udaf(new ArrayMeanAgg(6), ExpressionEncoder[Seq[Double]]())
    val got = df.groupBy("cell").agg(mean(col("e")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap

    val want = df.select(col("cell"), posexplode(col("e")))
      .groupBy("cell", "pos").agg(Stable.stab(avg("col"), 6).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"), transform(col("pm"), x => x.getField("m")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap

    assert(got.keySet == want.keySet)
    for (k <- got.keySet) assert(got(k) == want(k), s"cell $k")
  }

  test("partial/merge path: mean over many partitions equals single-partition mean") {
    import spark.implicits._
    val rows = (0 until 500).map(i => (0, Array.tabulate(8)(j => i * 1.0 + j)))
    val mean = udaf(new ArrayMeanAgg(6), ExpressionEncoder[Seq[Double]]())
    def run(parts: Int) =
      rows.toDF("cell", "e").repartition(parts)
        .groupBy("cell").agg(mean(col("e")).as("c"))
        .collect().map(_.getSeq[Double](1)).head
    assert(run(1) == run(13))
  }
}
