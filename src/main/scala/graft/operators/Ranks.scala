package graft.operators

import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.{Column, DataFrame}

/** The distributed ordered rank: each row's 1-based position, or the
  * inclusive running sum of a value, in an ascending total order within
  * its group — with no window that sees a whole group.
  *
  * A window partitioned by the group keys alone (or by nothing) sorts the
  * widest group through one task; the reference does exactly that for its
  * word ids (Vocabulary.java:90,103) and its score order (Query.java:278).
  * Instead every row is bucketed by the first `width` characters of the
  * leading order column. An ascending string order sort-aligns with its
  * prefixes — every row of an earlier bucket precedes every row of a later
  * one — so a row's rank is its bucket's offset (the running total of the
  * earlier buckets of its group) plus its rank inside its (group, bucket),
  * which runs in parallel. The offsets are a running-sum window over the
  * aggregated (group, bucket) table, broadcast back and added after the
  * in-bucket rank, so the rank's exchange does not carry them.
  *
  * Bound: that offsets window is the one window not partitioned by the
  * bucket; it sees at most groups × alphabet^width rows (one per group and
  * bucket), never the input. The input is read twice — once for the
  * offsets, once for the rank — so a caller with an expensive input cuts
  * it first. Results equal the one-window form row for row (CurationSpec).
  *
  * The bucket and offset columns are named `pfx` and `off`; the input
  * must not carry columns of those names.
  */
object Ranks {

  /** `out` = `row_number()` over (partition by `groups` order by `order`),
    * as a long. `order` is ascending and leads with a string column. */
  def position(df: DataFrame, groups: Seq[String], order: Seq[String],
               width: Int, out: String): DataFrame =
    ranked(df, groups, order, width, count(lit(1)), w => row_number().over(w), out)

  /** `out` = `sum(value)` over (partition by `groups` order by `order` rows
    * between unbounded preceding and current row): the inclusive running
    * sum, null while every value so far is null, as the one-window sum. */
  def runningSum(df: DataFrame, groups: Seq[String], order: Seq[String],
                 width: Int, value: Column, out: String): DataFrame =
    ranked(df, groups, order, width, sum(value),
      w => sum(value).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), out)

  /** The one offsets step behind both forms: `bucketTotal` aggregates a
    * (group, bucket), `inBucket` ranks a row inside it. */
  private def ranked(df: DataFrame, groups: Seq[String], order: Seq[String], width: Int,
                     bucketTotal: Column, inBucket: WindowSpec => Column,
                     out: String): DataFrame = {
    require(width >= 1, s"Ranks: prefix width $width < 1")
    require(!df.columns.exists(c => c == "pfx" || c == "off"),
      "Ranks: the input already has a pfx or off column")
    require(df.schema(order.head).dataType == StringType,
      s"Ranks: the leading order column ${order.head} is not a string")
    val t = df.withColumn("pfx", substring(col(order.head), 1, width))
    val keys = groups :+ "pfx"
    val offsets = t.groupBy(keys.map(col): _*).agg(bucketTotal.as("n"))
      .withColumn("off", sum("n").over(Window.partitionBy(groups.map(col): _*)
        .orderBy("pfx").rowsBetween(Window.unboundedPreceding, -1)))
      .select((keys :+ "off").map(col): _*)
    // off is null in a group's first bucket (and while every earlier
    // bucket total is null), the in-bucket value while every value so far
    // in the bucket is: the sum is null only when both are, as the
    // one-window sum
    val r = col(out)
    t.withColumn(out,
        inBucket(Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)))
      .join(broadcast(offsets), keys)
      .withColumn(out, coalesce(col("off") + r, col("off"), r))
      .drop("pfx", "off")
  }

  /** The per-query top-k of every kNN tier, router and ADC shortlist and
    * of the search evaluation: rank each query_id's rows by `score`
    * descending, ties to the lower `id`, and keep ranks 1..k (`rank`
    * BIGINT). The filter sits right over the row_number, which lets Spark
    * prune per partition with a WindowGroupLimit before the window's
    * exchange.
    */
  def perQueryTopK(rows: DataFrame, k: Int, score: String = "cos",
                   id: String = "neighbor_id"): DataFrame =
    rows.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc(score), asc(id))).cast("long"))
      .filter(col("rank") <= k)

  /** The top `k` rows of each group by `order`, ranked 1..k in `out` (a
    * long): the rows of `row_number() over (partition by groups order by
    * order) <= k`, in two phases, since that window sorts the widest group
    * in one task. Phase 1 ranks within (group, bucket), the bucket a
    * `salt`ed md5 of `key` modulo `nBuckets`, and keeps each bucket's top
    * k — a superset of the group's top k. Phase 2 ranks those
    * ≤ k·nBuckets rows per group.
    */
  def topK(df: DataFrame, groups: Seq[String], order: Seq[Column], k: Int,
           key: String, salt: String, nBuckets: Int, out: String): DataFrame = {
    val bkt = conv(substring(md5(concat(lit(salt + ":"),
      col(key).cast("string"))), 1, 4), 16, 10).cast("long") % nBuckets
    df.withColumn("bkt", bkt)
      .withColumn("prk", row_number().over(
        Window.partitionBy((groups :+ "bkt").map(col): _*).orderBy(order: _*)))
      .filter(col("prk") <= k)
      .withColumn(out, row_number().over(
        Window.partitionBy(groups.map(col): _*).orderBy(order: _*)).cast("long"))
      .filter(col(out) <= k)
      .drop("bkt", "prk")
  }
}
