package graft

import graft.operators.Similarity
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def vecs = {
    import spark.implicits._
    // orthogonal + parallel fixtures, labels partition {0,1}
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f, 0.0f), 1),
      (10L, Array(2.0f, 0.0f, 0.0f), 0),   // cos=1 with vec 0
      (11L, Array(1.0f, 1.0f, 0.0f), 0),   // cos=1/√2 with vec 0
      (12L, Array(0.0f, 3.0f, 0.0f), 1)    // cos=1 with vec 1
    ).toDF("vec_id", "embedding", "label")
  }

  test("cosinePairs finds parallel vectors") {
    import spark.implicits._
    val p = Similarity.cosinePairs(vecs, 0.99)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(p.map(x => (x._1, x._2)) == Seq((0L, 10L), (1L, 12L)))
    assert(p.forall(_._3 == 1.0))
  }

  test("cosinePairsLsh == cosinePairs on both test corpora (full recall)") {
    import spark.implicits._
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val emb = graft.sources.Tables.embeddings(spark, d)
      val exact = Similarity.cosinePairs(emb, 0.45)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val blocked = Similarity.cosinePairsLsh(emb, 0.45)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      assert(blocked == exact, d)
      assert(exact.nonEmpty, d) // both fixtures have near-dup tail pairs
    }
  }

  test("hyperplanes are deterministic ±1 and roughly balanced") {
    val w = Similarity.hyperplanes(64, 16)
    assert(w.flatten.forall(x => x == 1.0 || x == -1.0))
    assert(w.map(_.toSeq).toSeq == Similarity.hyperplanes(64, 16).map(_.toSeq).toSeq)
    // parity of a uniform hash: half the 1024 weights positive ±5σ (σ=16)
    val pos = w.flatten.count(_ == 1.0)
    assert(pos > 432 && pos < 592, s"pos=$pos of 1024")
  }

  test("bruteForceTopK ranks by cosine with deterministic ties") {
    import spark.implicits._
    val r = Similarity.bruteForceTopK(vecs, 2, 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(x => (x._1, x._3))
    // query 0: best = 10 (cos 1), then 11 (cos .707)
    assert(r.filter(_._1 == 0L).map(x => (x._2, x._3)) == Seq((10L, 1L), (11L, 2L)))
    // query 1: best = 12 (cos 1), then 11 (cos .707)
    assert(r.filter(_._1 == 1L).map(x => (x._2, x._3)) == Seq((12L, 1L), (11L, 2L)))
  }

  test("kmeans centroids: deterministic, k cells, correct dimensionality") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val c1 = Similarity.kmeansCentroids(emb, 8, 3)
      .as[(Int, Array[Double])].collect().sortBy(_._1)
    val c2 = Similarity.kmeansCentroids(emb, 8, 3)
      .as[(Int, Array[Double])].collect().sortBy(_._1)
    assert(c1.length == 8 && c1.forall(_._2.length == 64))
    assert(c1.map(_._1).toSeq == c2.map(_._1).toSeq &&
      c1.zip(c2).forall { case (a, b) => a._2.sameElements(b._2) })
  }

  /** 240 vectors in R^16 around 8 well-separated centers, deterministic
    * perturbations — data where coarse quantization is meaningful. (The
    * sf0.001 embeddings are near-uniform random: true top-5 neighbors share
    * the query's label only 4% of the time, so NO cell-probing ANN can
    * reach high recall there without probing most of the corpus — recall
    * claims belong on clusterable data.)
    */
  def clustered = {
    import spark.implicits._
    val dim = 16
    val rows = for (i <- 0 until 240) yield {
      val c = i % 8
      val center = Array.tabulate(dim)(j => if (j == 2 * c) 10.0f else if (j == 2 * c + 1) 4.0f else 0.0f)
      val v = Array.tabulate(dim)(j => center(j) + ((i * 37 + j * 17) % 13 - 6) * 0.05f)
      (i.toLong, v, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("knnIvfKmeans recall@5 >= 0.8 vs brute force on clustered data") {
    import spark.implicits._
    def topSet(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val exact = topSet(Similarity.bruteForceTopK(clustered, 10, 5))
    val approx = topSet(Similarity.knnIvfKmeans(clustered, 10, 5, kCells = 8, iters = 5, nprobe = 2))
    assert(exact.size == 50)
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@5 = $recall")
  }

  test("knnIvfKmeans mechanics on the sf0.001 corpus: exact cosines, full k") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val brute = Similarity.bruteForceTopK(emb, 10, 500)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val approx = Similarity.knnIvfKmeans(emb, 10, 5)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    assert(approx.length == 50) // 10 queries × full k
    // every reported cosine is the true cosine for that pair
    assert(approx.forall { case (q, n, c) => brute((q, n)) == c })
  }

  test("knnLshFrom: true cosines, full k, recall@5 >= 0.8 on both corpora") {
    import spark.implicits._
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val emb = graft.sources.Tables.embeddings(spark, d)
      val br = Similarity.embeddingBands(emb)
      val approx = Similarity.knnLshFrom(emb, br, 10, 5)
        .select("query_id", "neighbor_id", "cos")
        .as[(Long, Long, Double)].collect()
      assert(approx.length == 50, d) // 10 queries × full k (candidates ⊇ k)
      // every reported cosine is the true cosine for that pair
      val brute = Similarity.bruteForceTopK(emb, 10, 2000)
        .select("query_id", "neighbor_id", "cos")
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(approx.forall { case (q, n, c) => brute((q, n)) == c }, d)
      // recall@5 vs the true top-5 (1024 sign bits keep near neighbors in
      // some shared bucket with high probability even on this near-uniform
      // corpus — the hard regime; see cosinePairsLsh's banding analysis)
      val exactTop = Similarity.bruteForceTopK(emb, 10, 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = (exactTop intersect approx.map(x => (x._1, x._2)).toSet)
        .size.toDouble / exactTop.size
      assert(recall >= 0.8, s"recall@5 = $recall at $d")
    }
  }

  test("knnPq: exact reported cosines, full k, recall@5 >= 0.8 on clustered data") {
    import spark.implicits._
    def topSet(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // recall on data where quantization is meaningful (dim 16 → m=4)
    val exact = topSet(Similarity.bruteForceTopK(clustered, 10, 5))
    val approx = topSet(Similarity.knnPq(clustered, 10, 5, m = 4, kCodes = 16))
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@5 = $recall")
    // mechanics on the sf0.001 corpus: full k everywhere, and the re-rank
    // means every reported cosine is the TRUE cosine for that pair
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val pq = Similarity.knnPq(emb, 10, 5)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    assert(pq.length == 50)
    val brute = Similarity.bruteForceTopK(emb, 10, 2000)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pq.forall { case (q, n, c) => brute((q, n)) == c })
  }

  test("ivfTopKIndexed nprobe=2: superset candidates, recall@5 >= probe-1 on both corpora") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val emb = graft.sources.Tables.embeddings(spark, d)
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_np").toString
      Similarity.buildIvfIndex(emb, dir, Similarity.LabelCells)
      val q = emb.filter(col("vec_id") < 10)
      def top(n: Int) =
        Similarity.ivfTopKIndexed(spark, dir, Similarity.LabelCells, q, 5, nprobe = n)
        .select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      val p1 = top(1)
      val p2 = top(2)
      val exact = Similarity.bruteForceTopK(emb, 10, 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val r1 = (exact intersect p1).size.toDouble / exact.size
      val r2 = (exact intersect p2).size.toDouble / exact.size
      // the probe-2 candidate pool strictly contains probe-1's, so recall
      // can only improve — the structural claim the widened path makes
      assert(r2 >= r1, s"recall@5 probe2=$r2 < probe1=$r1 at $d")
      assert(p2.size == 50, d) // full k for every query
    }
  }

  test("batch ANN routing returns exactly the serving tiers' rows (IVF and PQ)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val q = emb.filter(col("vec_id") < 10)
    // IVF: the in-plan batch router against the persisted-index serving
    // path — centroids aggregate to identical stab'd values either way,
    // so rows (cosines and ranks included) must match exactly
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_batch").toString
    Similarity.buildIvfIndex(emb, dir, Similarity.LabelCells)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "probe_label", "neighbor_id", "cos", "rank")
      .as[(Long, Int, Long, Double, Long)].collect().sortBy(r => (r._1, r._5)).toSeq
    assert(rows(Similarity.ivfTopKBatch(emb, q, 5, nprobe = 2)) ==
      rows(Similarity.ivfTopKIndexed(spark, dir, Similarity.LabelCells, q, 5, nprobe = 2)))
    // PQ: codebooks trained inside the call vs a query table against
    // prebuilt codes — training is deterministic, so the rows are equal
    val p = Similarity.prepared(emb)
    val cbs = Similarity.pqCodebooks(p.select("vec_id", "e"), 8, 16, 5)
    val codes = Similarity.pqEncode(p.select("vec_id", "e"), cbs)
      .join(p.select("vec_id", "nrm"), "vec_id")
    def pqRows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val serving = pqRows(Similarity.knnPq(emb, 10, 5))
    val batch = pqRows(Similarity.knnPqBatchFromCodes(emb, q, codes,
      Similarity.pqCodebooksToDf(spark, cbs)))
    assert(serving == batch)
    assert(batch.length == 50) // full k for every query
  }

  test("knnIvfPqBatch: true cosines, full k, recall tracks the exact probe-2 IVF") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val q = emb.filter(col("vec_id") < 10)
    val p = Similarity.prepared(emb)
    val cbs = Similarity.pqCodebooks(p.select("vec_id", "e"), 8, 16, 5)
    val codes = Similarity.pqEncode(p.select("vec_id", "e"), cbs)
      .join(p.select("vec_id", "nrm"), "vec_id")
      .join(emb.select(col("vec_id"), col("label").as("cell")), "vec_id")
    val ivfpq = Similarity.knnPqBatchFromCodes(emb, q, codes,
        Similarity.pqCodebooksToDf(spark, cbs), nprobe = 2)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    assert(ivfpq.length == 50) // full k for every query
    // every reported cosine is the TRUE cosine (exact re-rank)
    val brute = Similarity.bruteForceTopK(emb, 10, 2000)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(ivfpq.forall { case (qid, n, c) => brute((qid, n)) == c })
    // the composition can only lose what its PQ shortlist misses WITHIN
    // the probed cells: recall vs the exact-scoring probe-2 IVF ≥ 0.8
    val exact2 = Similarity.ivfTopKBatch(emb, q, 5, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = ivfpq.map(r => (r._1, r._2)).toSet
    val recall = (exact2 intersect got).size.toDouble / exact2.size
    assert(recall >= 0.8, s"recall vs exact probe-2 IVF = $recall")
  }

  test("labelOutliers: own-label affinity, dense bottom-k rank, outlier ranks first") {
    import spark.implicits._
    // label 0's centroid ≈ x-axis-ish: vec 11 (diagonal) is its worst fit
    val r = Similarity.labelOutliers(vecs, 2)
      .as[(Int, Long, Long, Double)].collect().toSeq // (label, rn, vec_id, cos)
    val byLabel = r.groupBy(_._1)
    assert(byLabel.keySet == Set(0, 1))
    for ((_, rows) <- byLabel) {
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
      assert(rows.forall(x => x._4 >= -1.0 - 1e-9 && x._4 <= 1.0 + 1e-9))
      // rank order is ascending affinity
      assert(rows.sortBy(_._2).map(_._4).toSeq == rows.map(_._4).sorted.toSeq)
    }
    assert(byLabel(0).minBy(_._2)._3 == 11L) // the diagonal vector is label 0's outlier
    // every vector scored against ITS OWN label: members only
    val members = vecs.select("label", "vec_id").as[(Int, Long)].collect().toSet
    assert(r.forall(x => members.contains((x._1, x._3))))
  }

  test("ivfTopK routes each query to its own cell") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the probe-1 tier: ivfTopKBatch at nprobe = 1
    val r = Similarity.ivfTopKBatch(vecs, vecs.filter(col("vec_id") < 2), 3, nprobe = 1)
      .select("query_id", "probe_label", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq
    // query 0 probes label 0 (centroid along x), finds 10 and 11 only
    assert(r.filter(_._1 == 0L).map(_._2).forall(_ == 0))
    assert(r.filter(_._1 == 0L).map(_._3).toSet == Set(10L, 11L))
    // query 1 probes label 1, finds 12
    assert(r.filter(_._1 == 1L).map(_._2).forall(_ == 1))
    assert(r.filter(_._1 == 1L).map(_._3).toSet == Set(12L))
  }

  test("ADC stage keys its LUT by (j, code): short and holed codebooks match brute force") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    // with shortlist·k ≥ corpus − 1 the exact rerank sees every candidate,
    // so whatever the codebooks, the rows are brute force's
    def check(corpus: org.apache.spark.sql.DataFrame,
              cbs: Seq[Seq[(Int, Seq[Double])]], shortlist: Int): Unit = {
      val got = rows(Similarity.knnPqBatchFromCodes(corpus, corpus.filter(col("vec_id") < 10),
        Similarity.pqEncode(Similarity.prepared(corpus), cbs),
        Similarity.pqCodebooksToDf(spark, cbs), k = 5, shortlist = shortlist))
      assert(got.length == 50)
      assert(got == rows(Similarity.bruteForceTopK(corpus, 10, 5)))
    }
    // a 12-vector corpus: every subspace trains 12 codes, not kCodes = 16
    val small = emb.filter(col("vec_id") < 12)
    val smallCbs = Similarity.pqCodebooks(
      Similarity.prepared(small).select("vec_id", "e"), 8, 16, 5)
    assert(smallCbs.forall(_.length == 12))
    check(small, smallCbs, shortlist = 3)
    // a Lloyd cell that dropped out: code 3 of subspace 0 is missing
    val cbs = Similarity.pqCodebooks(Similarity.prepared(emb).select("vec_id", "e"), 8, 16, 5)
    val holed = cbs.updated(0, cbs(0).filterNot(_._1 == 3))
    assert(holed(0).length == cbs(0).length - 1)
    check(emb, holed, shortlist = 100)
  }

  test("pqCodebooks on an empty table names the empty input") {
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val err = intercept[IllegalArgumentException](Similarity.pqCodebooks(
      Similarity.prepared(emb.limit(0)).select("vec_id", "e"), 8, 16, 5))
    assert(err.getMessage.contains("empty"), err.getMessage)
  }

  test("kNN tiers on an 8-file copy take the scale branch and return the same rows") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_emb8").toString
    emb.repartition(8).write.parquet(s"$dir/embeddings.parquet")
    val emb8 = graft.sources.Tables.embeddings(spark, dir)
    // the trainer behind knn_ivf_kmeans and the PQ codebooks plans through
    // Spread.tight: on this copy it keeps the partitioned (scale) plan
    assert(!graft.operators.Spread.isTiny(emb8))
    assert(graft.operators.Spread.isTiny(emb))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    type Tier = org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
    for ((name, tier) <- Seq[(String, Tier)](
        "knnIvfKmeans" -> (e => Similarity.knnIvfKmeans(e, 10, 5)),
        "knnPq" -> (e => Similarity.knnPq(e, 10, 5)),
        "ivfTopKBatch" -> (e => Similarity.ivfTopKBatch(e, e.filter(col("vec_id") < 10), 5)))) {
      val one = rows(tier(emb))
      assert(one.length == 50, name)
      assert(rows(tier(emb8)) == one, name)
    }
  }
}
