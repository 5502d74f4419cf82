package graft

import graft.operators.QualityClassifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Learning-semantics checks for the distilled quality classifier. The
  * gate (text_quality_lr_* vs the re-training DuckDB twins) proves
  * cross-engine determinism; this spec proves the trainer LEARNS:
  * a separable planted concept is recovered, the real-corpus agreement
  * clears the linear-model bar, training is run-to-run deterministic,
  * and the per-round cost is one bounded aggregate job.
  */
class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Planted separable corpus: "good" docs are long with stopwords,
    * "bad" docs short without — the Gopher keep bit splits exactly on
    * class, and the classes are linearly separable in the features.
    */
  private lazy val planted = {
    import spark.implicits._
    val good = (0 until 40).map { i =>
      val words = Seq.fill(20)("the quick brown fox jumps of and that")
        .mkString(" ") + s" extra$i"
      (i.toLong, words, "en", "good", words.length)
    }
    val bad = (100 until 140).map { i =>
      (i.toLong, s"tiny doc number$i nothing", "en", "bad", 20)
    }
    (good ++ bad).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("planted separable concept is recovered near-perfectly") {
    val m = QualityClassifier.train(planted)
    val ev = QualityClassifier.evaluate(
      QualityClassifier.score(planted, m)).collect()(0)
    val acc = ev.getDouble(5)
    assert(ev.getLong(0) == 80L)
    assert(acc >= 0.95, s"accuracy $acc on a separable fixture")
  }

  test("training is run-to-run deterministic") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf0001)
    val m1 = QualityClassifier.train(docs)
    val m2 = QualityClassifier.train(docs)
    assert(m1.w.toSeq == m2.w.toSeq)
    assert(m1.means.toSeq == m2.means.toSeq)
    assert(m1.stds.toSeq == m2.stds.toSeq)
  }

  test("real corpus: agreement with the rule battery clears the linear bar") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf0001)
    val m = QualityClassifier.train(docs)
    val sc = QualityClassifier.score(docs, m)
    val ev = QualityClassifier.evaluate(sc).collect()(0)
    val acc = ev.getDouble(5)
    // the concept is an AND of one-sided bands — a linear scorer tops
    // out near 0.9 (measured 0.896 at sf0.01); 0.8 is the honest floor
    assert(acc >= 0.8, s"agreement $acc")
    // scores are probabilities
    val bad = sc.filter(col("score") < 0.0 || col("score") > 1.0).count()
    assert(bad == 0L)
    // both classes actually predicted (not a constant scorer)
    assert(ev.getLong(1) + ev.getLong(2) > 0L, "never predicts keep")
    assert(ev.getLong(3) + ev.getLong(4) > 0L, "never predicts drop")
  }

  test("selectTopP: keeps ~p of the corpus, entirely the highest scores, ties whole") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf0001)
    val scored = QualityClassifier.score(docs, QualityClassifier.train(docs))
      .localCheckpoint()
    val n = scored.count()
    val kept = QualityClassifier.selectTopP(scored, 0.3)
    val k = kept.count()
    // at least p·n kept; overshoot only by the tie band at the threshold
    assert(k >= (0.3 * n).floor.toLong, s"$k of $n")
    val minKept = kept.agg(min("s_micro")).collect()(0).getLong(0)
    // nothing ABOVE the threshold was dropped
    val droppedAbove = scored
      .withColumn("m", floor(col("score") * lit(1e6) + lit(0.5)).cast("long"))
      .filter(col("m") > minKept).count()
    val keptAbove = kept.filter(col("s_micro") > minKept).count()
    assert(droppedAbove == keptAbove, "a higher-scored doc was dropped")
    // ties at the bar kept whole
    val tiesTotal = scored
      .withColumn("m", floor(col("score") * lit(1e6) + lit(0.5)).cast("long"))
      .filter(col("m") === minKept).count()
    assert(kept.filter(col("s_micro") === minKept).count() == tiesTotal)
  }

  test("training cost: one bounded aggregate job per round over the checkpointed features") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf0001)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      QualityClassifier.train(docs, iters = 24)
      Thread.sleep(1000)
      // Under AQE each aggregate materializes as ≤ 2 jobs (shuffle stage
      // + result stage); budget = 2/round + checkpoint/moments slack.
      // The regression this guards — the features checkpoint dropping
      // out, re-running the corpus tokenize+aggregate chain every round —
      // costs ≥ 3–4 jobs/round and blows this bound.
      assert(jobs <= 2 * 24 + 8, s"train submitted $jobs jobs for 24 rounds")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("score plan: no UDF, no join — row-local math over the feature aggregate") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf0001)
    val m = QualityClassifier.train(docs)
    val p = QualityClassifier.score(docs, m).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("ScalaUDF"))
    assert(!p.contains("Join"), "scoring must not join — weights are plan literals")
  }

  test("fused trainer (1 partition) == per-round loop (8 partitions), bit for bit") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf0001)
    val f = QualityClassifier.features(docs).localCheckpoint()
    val (means, stds) = QualityClassifier.moments(f)
    val s = QualityClassifier.standardized(f, means, stds).localCheckpoint()
    val one = s.coalesce(1)
    val eight = s.repartition(8).localCheckpoint()
    assert(one.rdd.getNumPartitions == 1 && eight.rdd.getNumPartitions == 8)
    val fused = QualityClassifier.trainRounds(one, 0.5, 24).toSeq
    assert(QualityClassifier.trainRounds(eight, 0.5, 24).toSeq == fused)
    // past the row ceiling the single partition runs the per-round loop
    assert(QualityClassifier.trainRounds(one, 0.5, 24, maxFusedRows = 10).toSeq == fused)
    // the public trainer returns these weights
    assert(QualityClassifier.train(docs).w.toSeq == fused)
    // an empty table fails loudly, naming the trainer — never NaN weights
    val e = intercept[IllegalArgumentException](
      QualityClassifier.trainRounds(one.filter(col("doc_id") < 0), 0.5, 24))
    assert(e.getMessage.contains("trainRoundsFused"))
  }
}
