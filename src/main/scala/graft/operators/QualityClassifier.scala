package graft.operators

import graft.functions.Stable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A trained linear quality scorer for the corpus — the model-based stage
  * every large pretraining pipeline runs after the rule batteries
  * (GPT-3's WebText-vs-CommonCrawl LR filter, CCNet's fasttext scorer,
  * LLaMA's Wikipedia-reference classifier): cheap surface features, a
  * linear model, a smooth rankable score instead of a hard keep bit.
  *
  * Here the training labels DISTILL the Gopher rule battery
  * (QualityRules.gopherQuality's `keep`): the rules are the supervisor,
  * the model learns a soft margin over the same surface signals — so the
  * whole pipeline (features → labels → moments → gradient rounds →
  * score) is derivable from the corpus bytes alone, and the DuckDB twin
  * re-trains it exactly.
  *
  * Determinism contract (the events_stationary discipline, minus libm):
  * the link is the RATIONAL sigmoid p = 0.5 + (0.5·z)/(1+|z|) — add,
  * multiply, divide, abs are all correctly-rounded IEEE ops both engines
  * execute bit-identically, so unlike exp() there is NO cross-engine ulp
  * hazard anywhere in training. Every corpus sum is a Stable.fixMean
  * (exact order-free scale-8 int64), every derived scalar is stab(6)'d,
  * and the weight recurrence w ← stab6(w − lr·g) runs over identical
  * doubles in both engines — the gate is a hash match on the weights
  * themselves.
  *
  * Scale shape: ONE tokenize pass builds the per-doc feature table
  * (hash aggregate, map-side partials), localCheckpoint'd; then one
  * moments aggregate and `iters` gradient aggregates run over that
  * |docs|-row, 6-column table — each round a single 5-value-bounded
  * reduction (the MLlib full-batch GD shape; at 100 TB the feature table
  * is what you'd persist, and rounds cost one columnar scan each). The
  * driver holds 5 weights; nothing corpus-sized is ever collected.
  */
object QualityClassifier {

  /** Means, stds (zero-variance features pinned to std=1, so their
    * centered value 0 stays 0), and the trained weights
    * [bias, len_sat, mean_wlen, alpha_frac, stop_density].
    */
  final case class Model(means: Array[Double], stds: Array[Double], w: Array[Double])

  val FeatureNames: Seq[String] =
    Seq("bias", "len_sat", "mean_wlen", "alpha_frac", "stop_density")

  private def stab6(x: Double): Double = graft.functions.Stable.stab6(x)

  /** Per-doc raw features + label from the Gopher signal aggregate:
    * x1 saturating length n/(n+100), x2 mean word length /10,
    * x3 alphabetic fraction, x4 stopword density ×10 — all stab(6)'d
    * into the same O(1) range; y = the rule battery's keep bit.
    */
  def features(docs: DataFrame): DataFrame = {
    val g = QualityRules.gopherQuality(docs)
    val nw = col("n_words").cast("double")
    g.select(col("doc_id"),
      Stable.stab(nw / (nw + lit(100.0)), 6).as("x1"),
      Stable.stab(col("mean_wlen") / lit(10.0), 6).as("x2"),
      Stable.stab(col("alpha_frac"), 6).as("x3"),
      Stable.stab(lit(10.0) * col("n_stop").cast("double") / nw, 6).as("x4"),
      when(col("keep"), 1.0).otherwise(0.0).as("y"),
      col("keep"))
  }

  /** Feature moments in ONE aggregate: stab'd fixed-point means of x and
    * x², std = stab6(√max(E[x²]−m², 0)) with the zero-variance guard.
    */
  def moments(feats: DataFrame): (Array[Double], Array[Double]) = {
    val n = count(lit(1))
    val aggs = (1 to 4).flatMap { j =>
      Seq(Stable.fixMean(col(s"x$j"), n).as(s"m$j"),
        Stable.fixMean(col(s"x$j") * col(s"x$j"), n).as(s"q$j"))
    }
    val r = feats.agg(aggs.head, aggs.tail: _*).collect()(0)
    val means = Array.tabulate(4)(j => r.getDouble(2 * j))
    val stds = Array.tabulate(4) { j =>
      val v = stab6(math.sqrt(math.max(r.getDouble(2 * j + 1) - means(j) * means(j), 0.0)))
      if (v == 0.0) 1.0 else v
    }
    (means, stds)
  }

  /** Row-local z-scoring against plan-literal moments. */
  def standardized(feats: DataFrame, means: Array[Double], stds: Array[Double]): DataFrame = {
    val cols = (1 to 4).map(j =>
      Stable.stab((col(s"x$j") - lit(means(j - 1))) / lit(stds(j - 1)), 6).as(s"s$j"))
    feats.select(col("doc_id") +: cols :+ col("y") :+ col("keep"): _*)
  }

  /** The margin w·s with the left-to-right fold both engines share. */
  private def margin(w: Array[Double]): Column =
    lit(w(0)) + lit(w(1)) * col("s1") + lit(w(2)) * col("s2") +
      lit(w(3)) * col("s3") + lit(w(4)) * col("s4")

  /** Rational-sigmoid probability of the margin, stab(6)'d. */
  private def prob(z: Column): Column =
    Stable.stab(lit(0.5) + (lit(0.5) * z) / (lit(1.0) + abs(z)), 6)

  /** Full-batch gradient descent: `iters` rounds of
    * w ← stab6(w − lr·stab6(mean((p−y)·s))) over the checkpointed
    * standardized features — one 5-value aggregate per round.
    */
  def train(docs: DataFrame, lr: Double = 0.5, iters: Int = 24): Model =
    trainWithFeatures(docs, lr, iters)._1

  /** [[train]] that also RETURNS the checkpointed feature table it
    * trained on, so a caller that scores the same corpus next
    * (score/select/evaluate/calibration — every registered lr query)
    * reuses the one tokenize pass instead of re-running it from the
    * docs scan. Features are a pure deterministic function of the
    * corpus, so scoring from the training checkpoint is value-identical
    * to recomputing them.
    *
    * Round-18 loop tightening (see Spread.tight): the checkpointed
    * feature table at bench scale is a single post-AQE partition that
    * still planned `UnknownPartitioning` — every gradient round paid a
    * partial/final exchange pair, 2 AQE stage jobs for a 5-value
    * aggregate (measured: 54 jobs, 0.27 s summed task time,
    * 2.3 s wall). The guarded SinglePartition pin makes each round ONE
    * exchange-free stage; at scale the guard keeps the partial
    * aggregation path untouched.
    */
  def trainWithFeatures(docs: DataFrame, lr: Double = 0.5,
                        iters: Int = 24): (Model, DataFrame) = {
    val f0 = features(docs).localCheckpoint() // one tokenize pass, reused by every round
    val f = graft.operators.Spread.tight(f0)
    val (means, stds) = moments(f)
    (Model(means, stds, trainRounds(standardized(f, means, stds), lr, iters)), f)
  }

  /** Row ceiling of the fused trainer: it buffers every feature row (five
    * doubles, ~64 bytes) in one task, so at most ~64 MB; a larger
    * single-partition table runs the distributed per-round loop. */
  val FusedMaxRows: Int = 1 << 20

  /** The `iters` gradient rounds over the standardized feature table.
    *
    * Round-19 round fusion (guide §1.2 — the profile showed the per-round
    * loop at ~24 jobs for < 0.1 s of summed task time, pure scheduler
    * latency): when the table is ONE partition (the tight guard in
    * [[trainWithFeatures]] pins metadata-scale checkpoints there) and at
    * most `maxFusedRows` rows, all rounds run inside ONE task over that
    * partition. A production multi-partition table keeps the distributed
    * per-round aggregates. Bit-identical by the fixMean contract: the
    * gradient is an exact order-free scale-8 int64 sum, and
    * margin/rational-sigmoid/stab6 are the same IEEE op sequence the
    * Column expressions fold (Stable.stab6 IS the canonical JVM twin), so
    * the weight recurrence is the same doubles (QualityClassifierSpec
    * pins the twins equal).
    */
  private[graft] def trainRounds(s: DataFrame, lr: Double, iters: Int,
                                 maxFusedRows: Int = FusedMaxRows): Array[Double] = {
    val fused =
      if (Spread.isTiny(s, 1)) trainRoundsFused(s, lr, iters, maxFusedRows)
      else None
    fused.getOrElse {
      var w0 = Array.fill(5)(0.0)
      for (_ <- 1 to iters) {
        val r = prob(margin(w0)) - col("y")
        val n = count(lit(1))
        val g = s.agg(
          Stable.fixMean(r, n).as("g0"),
          Stable.fixMean(r * col("s1"), n).as("g1"),
          Stable.fixMean(r * col("s2"), n).as("g2"),
          Stable.fixMean(r * col("s3"), n).as("g3"),
          Stable.fixMean(r * col("s4"), n).as("g4")).collect()(0)
        w0 = Array.tabulate(5)(j => stab6(w0(j) - lr * g.getDouble(j)))
      }
      w0
    }
  }

  /** All `iters` gradient rounds in one job over the single-partition
    * standardized feature table — the in-task twin of the per-round
    * `fixMean` aggregates. Null semantics replicated exactly: a row with
    * any null feature contributes to no gradient sum (Catalyst `sum`
    * skips null elements — and a null in any s_j nulls the shared margin,
    * hence every element) but still counts toward n (`count(lit(1))`).
    * The task buffers at most `maxRows` + 1 rows: past the ceiling it
    * stops reading and returns None, and the caller runs the distributed
    * loop instead.
    */
  private def trainRoundsFused(s: DataFrame, lr: Double, iters: Int,
                               maxRows: Int): Option[Array[Double]] = {
    val res = s.select(col("s1"), col("s2"), col("s3"), col("s4"), col("y"))
      .rdd.mapPartitions { it =>
        val rows = it.take(maxRows + 1).map { r =>
          if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2) ||
              r.isNullAt(3) || r.isNullAt(4)) null
          else Array(r.getDouble(0), r.getDouble(1), r.getDouble(2),
            r.getDouble(3), r.getDouble(4))
        }.toArray
        val w = if (rows.isEmpty || rows.length > maxRows) null else fusedRounds(rows, lr, iters)
        Iterator.single((rows.length, w))
      }.collect()
    require(res.length == 1, s"fused LR train expected 1 partition, saw ${res.length}")
    val (n, w) = res(0)
    require(n > 0, "QualityClassifier.trainRoundsFused: empty feature table — " +
      "no rows to train on (the weights would be NaN)")
    Option(w)
  }

  /** The fused rounds over buffered (s1..s4, y) rows, null for a row with
    * a null feature. */
  private def fusedRounds(rows: Array[Array[Double]], lr: Double,
                          iters: Int): Array[Double] = {
    val n = rows.length.toDouble
    var w = Array.fill(5)(0.0)
    var round = 0
    while (round < iters) {
      val sums = new Array[Long](5)
      var i = 0
      while (i < rows.length) {
        val a = rows(i)
        if (a != null) {
          // the same left-to-right fold as margin(w)
          val z = w(0) + w(1) * a(0) + w(2) * a(1) + w(3) * a(2) + w(4) * a(3)
          val p = Stable.stab6(0.5 + (0.5 * z) / (1.0 + math.abs(z)))
          val r = p - a(4)
          sums(0) += math.floor(r * 1e8 + 0.5).toLong
          sums(1) += math.floor(r * a(0) * 1e8 + 0.5).toLong
          sums(2) += math.floor(r * a(1) * 1e8 + 0.5).toLong
          sums(3) += math.floor(r * a(2) * 1e8 + 0.5).toLong
          sums(4) += math.floor(r * a(3) * 1e8 + 0.5).toLong
        }
        i += 1
      }
      w = Array.tabulate(5) { j =>
        val g = Stable.stab6((sums(j).toDouble / 1e8) / n)
        Stable.stab6(w(j) - lr * g)
      }
      round += 1
    }
    w
  }

  /** Per-doc soft quality score under a fitted model (row-local,
    * plan-literal weights) alongside the rule battery's hard keep bit.
    */
  def score(docs: DataFrame, m: Model): DataFrame =
    scoreFeatures(features(docs), m)

  /** Score a prebuilt feature table (the [[trainWithFeatures]] reuse). */
  def scoreFeatures(feats: DataFrame, m: Model): DataFrame =
    standardized(feats, m.means, m.stds)
      .select(col("doc_id"), prob(margin(m.w)).as("score"), col("keep"))

  /** "Keep the best P%" by the LEARNED score — the model-based sibling
    * of TextAnalysis.qualityTopP, same scalable shape: micro-unit
    * scores → ONE score histogram → a bounded-cardinality cumulative
    * window picks the threshold, ties at the bar kept whole. The smooth
    * score makes the band placement much finer-grained than the rule
    * battery's boolean (score cardinality ≤ 10⁶ by stab(6) contract, so
    * the histogram window is constant-bounded, never corpus-scale).
    */
  def selectTopP(scored: DataFrame, p: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val s = scored.select(col("doc_id"),
        floor(col("score") * lit(1000000.0) + lit(0.5)).cast("long").as("s_micro"))
      .localCheckpoint()
    val hist = s.groupBy("s_micro").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum", sum("c").over(w.orderBy(desc("s_micro"))))
    val tot = hist.agg(sum("c").as("n"))
    val thresh = cum.crossJoin(broadcast(tot))
      .filter(col("cum") >= floor(lit(p) * col("n") + lit(1e-9)))
      .agg(max("s_micro").as("s_star"))
    s.crossJoin(broadcast(thresh))
      .filter(col("s_micro") >= col("s_star"))
      .select("doc_id", "s_micro")
  }

  /** One-row confusion card of score ≥ 0.5 against the distilled rule
    * labels — the agreement number that says whether the soft scorer can
    * stand in for the battery.
    */
  def evaluate(scored: DataFrame): DataFrame = {
    val pred = col("score") >= 0.5
    scored.agg(
      count(lit(1)).as("n"),
      sum(when(pred && col("keep"), 1L).otherwise(0L)).as("tp"),
      sum(when(pred && !col("keep"), 1L).otherwise(0L)).as("fp"),
      sum(when(!pred && col("keep"), 1L).otherwise(0L)).as("fn"),
      sum(when(!pred && !col("keep"), 1L).otherwise(0L)).as("tn"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        ((col("tp") + col("tn")).cast("double") / col("n")).as("accuracy"))
  }

  /** Reliability (calibration) card: scores bucketed into `bins`
    * equal-width bands, each with its observed positive rate — the
    * diagnostic that says whether "score 0.8" MEANS 80% (miscalibration
    * makes every threshold-based selection quota wrong, silently). One
    * hash aggregate over bounded-cardinality bins; mean score per bin
    * through the fixMean fixed-point path so both engines agree.
    */
  def calibration(scored: DataFrame, bins: Int = 10): DataFrame =
    scored
      .withColumn("bin", least(floor(col("score") * bins), lit(bins - 1)).cast("int"))
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_pos"),
        Stable.fixMean(col("score"), count(lit(1))).as("mean_score"))
      .withColumn("frac_pos", col("n_pos").cast("double") / col("n"))

  /** The model card as rows: (feature, mean, std, weight) — bias carries
    * the identity moments.
    */
  def modelDf(spark: SparkSession, m: Model): DataFrame = {
    import spark.implicits._
    FeatureNames.zipWithIndex.map { case (name, j) =>
      if (j == 0) (name, 0.0, 1.0, m.w(0))
      else (name, m.means(j - 1), m.stds(j - 1), m.w(j))
    }.toDF("feature", "mean", "std", "weight")
  }
}
