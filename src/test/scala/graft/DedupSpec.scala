package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def docs = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s", 1L),
      (2L, "alpha beta gamma delta epsilon zeta", "en", "s", 1L), // exact dup of 1
      (3L, "alpha beta gamma delta epsilon eta", "en", "s", 1L),  // near dup of 1
      (4L, "one two three four five six", "en", "s", 1L)          // unrelated
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("shingles: distinct 3-grams in order windows") {
    import spark.implicits._
    val sh = Dedup.shingles(docs.filter($"doc_id" === 1L), 3)
      .orderBy("shingle").as[(Long, String)].collect().map(_._2).toSeq
    assert(sh == Seq(
      "alpha beta gamma", "beta gamma delta", "delta epsilon zeta",
      "gamma delta epsilon"))
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val g = Dedup.exact(docs).orderBy("keep_id")
      .as[(Long, Long)].collect().toSeq
    assert(g == Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("ngram jaccard finds exact and near dups, not unrelated") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(docs, 3, 0.3)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Double)].collect().toSeq
    // docs 1,2 identical → jaccard 1.0; 1-3 and 2-3 share 3 of 5 shingles → 0.6
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.head._3 == 1.0)
    assert(math.abs(pairs(1)._3 - 0.6) < 1e-12)
  }

  test("prefix-filtered Jaccard == plain inverted-index Jaccard on both corpora") {
    import spark.implicits._
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val shk = Dedup.shingles(graft.sources.Tables.documents(spark, d))
        .select(org.apache.spark.sql.functions.col("doc_id"),
          Dedup.shingleKey(org.apache.spark.sql.functions.col("shingle")).as("shk"))
      // the same key table as an 8-partition checkpoint leaf: Spread.isTiny
      // is false, so every intersection takes its shuffled branch
      val shk8 = shk.repartition(8).localCheckpoint()
      assert(!graft.operators.Spread.isTiny(shk8))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double)].collect().toSeq.sorted
      for (t <- Seq(0.5, 0.6, 0.8); (keys, tag) <- Seq(shk -> "", shk8 -> " x8")) {
        val plain = rows(Dedup.ngramJaccardPairsFromKeys(keys, t))
        val prefix = rows(Dedup.ngramJaccardPairsPrefixFromKeys(keys, t))
        assert(prefix == plain, s"$d t=$t$tag")
        assert(plain.nonEmpty, s"$d t=$t$tag") // fixtures carry near-dup pairs
      }
    }
  }

  test("bucketProfile: exact stats on a hand-computable key table") {
    import spark.implicits._
    // buckets: k1 -> {1,2,3} (3 choose 2 = 3 cand), k2 -> {1,4} (1), k3 -> {2} (0)
    val shk = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 20L), (4L, 20L), (2L, 30L))
      .toDF("doc_id", "shk")
    val p = Dedup.bucketProfile(shk)
    assert(p == Dedup.BucketProfile(nDocs = 4, nBuckets = 3, maxBucket = 3, candPairs = 4))
    assert(math.abs(p.headFraction - 0.75) < 1e-12)
    // EMPTY key table (every doc shorter than the shingle width): the
    // null max/sum must route as the all-zeros profile, not NPE
    // (closing-review finding)
    val empty = Dedup.bucketProfile(shk.filter($"doc_id" < 0))
    assert(empty == Dedup.BucketProfile(0, 0, 0, 0))
    assert(!Dedup.usePrefixTier(empty))
  }

  test("auto tier routing: plain on the documents profile, prefix on the zipf profile") {
    // The round-13 auto-selection contract (SURVEY §2.9 item 1 closed):
    // the probe must read the documents fixture as low-collision (head
    // bucket ≪ 5% of docs → plain tier, the measured smaller-constant
    // winner) and the zipf fixture as head-heavy (planted 26% head
    // bucket → prefix tier, the measured 17×-cliff escape) — at BOTH
    // fixture SFs, for BOTH key families (winnow fingerprints and
    // 3-gram shingle keys).
    import org.apache.spark.sql.functions.col
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val docs = graft.sources.Tables.documents(spark, d)
      val docShk = Dedup.shingles(docs)
        .select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
      val docFp = graft.operators.TextAnalysis.winnowing(docs)
        .withColumnRenamed("fp", "shk")
      val zipf = graft.sources.ZipfCorpus.synth(docs.select("doc_id"))
      val zipfShk = Dedup.shingles(zipf)
        .select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
      val zipfFp = graft.operators.TextAnalysis.winnowing(zipf)
        .withColumnRenamed("fp", "shk")
      assert(!Dedup.usePrefixTier(Dedup.bucketProfile(docShk)), s"$d doc shingles")
      assert(!Dedup.usePrefixTier(Dedup.bucketProfile(docFp)), s"$d doc winnow")
      assert(Dedup.usePrefixTier(Dedup.bucketProfile(zipfShk)), s"$d zipf shingles")
      assert(Dedup.usePrefixTier(Dedup.bucketProfile(zipfFp)), s"$d zipf winnow")
      // the margin is an order of magnitude on each side, not a
      // knife-edge (the round-15 signal: hottest bucket's share of the
      // candidate mass, not of the doc count)
      assert(Dedup.bucketProfile(docShk).headCandShare < 0.01, s"$d doc margin")
      assert(Dedup.bucketProfile(zipfShk).headCandShare > 0.1, s"$d zipf margin")
    }
  }

  test("ZipfCorpus: deterministic, planted near-dups, tiered df, boilerplate") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ids = graft.sources.Tables.documents(spark, TestSpark.sf0001).select("doc_id")
    val a = graft.sources.ZipfCorpus.synth(ids).orderBy("doc_id").collect().map(_.toString).toSeq
    val b = graft.sources.ZipfCorpus.synth(ids).orderBy("doc_id").collect().map(_.toString).toSeq
    assert(a == b) // bit-deterministic: the oracle depends on it
    val docs = graft.sources.ZipfCorpus.synth(ids).localCheckpoint()
    val byId = docs.as[(Long, String)].collect().toMap
    // near-dup pairs: doc 51 re-uses doc 50's token stream (one token longer)
    assert(byId(51L).startsWith(byId(50L)))
    // boilerplate keys on the SEED: doc 4 opens with the header, doc 1
    // (near-dup of doc 0, whose seed is boilerplated) inherits it
    assert(byId(4L).startsWith("h0 h1 h2 h3 h4 h5 h6 h7 "))
    assert(byId(1L).startsWith("h0 h1 h2 h3 h4 h5 h6 h7 "))
    assert(!byId(2L).startsWith("h0"))
    // tiered df: the 10 stopwords (w0..w9) dominate token mass
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val nTok = toks.count().toDouble
    val stopMass = toks.filter(col("tok").isin((0 until 10).map(i => s"w$i"): _*))
      .count() / nTok
    assert(stopMass > 0.3 && stopMass < 0.5, s"stopword mass $stopMass") // ≈ 0.4 by construction
  }

  test("containment catches a doc embedded in a larger one; Jaccard misses it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // doc 1 = 12 tokens; doc 2 = doc 1 verbatim inside ~5× more text
    val small = (0 until 12).map(i => s"s$i").mkString(" ")
    val big = ((100 until 130).map(i => s"x$i") ++ (0 until 12).map(i => s"s$i") ++
      (200 until 230).map(i => s"y$i")).mkString(" ")
    val docs = Seq(1L -> small, 2L -> big).toDF("doc_id", "text")
    val shk = Dedup.shingles(docs)
      .select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
    // symmetric Jaccard: inclusion is invisible (J = 10/70 ≈ 0.14)
    assert(Dedup.ngramJaccardPairsFromKeys(shk, 0.5).count() == 0)
    // directed containment: doc 1's shingles are ALL in doc 2
    val c = Dedup.containmentPairsFromKeys(shk, 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(c == Seq((1L, 2L, 1.0))) // contained → container, full inclusion
    // the prefix-filtered twin is exact — here and on both fixture corpora
    // (incl. the zipf one, where prefixes are actually selective)
    assert(Dedup.containmentPairsPrefixFromKeys(shk, 0.9)
      .as[(Long, Long, Double)].collect().toSeq == c)
    for (d <- Seq(TestSpark.sf001); t <- Seq(0.7, 0.9)) {
      def keys(docs: org.apache.spark.sql.DataFrame) = Dedup.shingles(docs)
        .select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
      for (corpus <- Seq(
          keys(graft.sources.Tables.documents(spark, d)),
          keys(graft.sources.ZipfCorpus.synth(
            graft.sources.Tables.documents(spark, d).select("doc_id"))))) {
        // a tiny checkpoint and an 8-partition one (Spread.isTiny false:
        // the shuffled intersection branch)
        val ck8 = corpus.repartition(8).localCheckpoint()
        assert(!graft.operators.Spread.isTiny(ck8))
        for ((ck, tag) <- Seq(corpus.localCheckpoint() -> "", ck8 -> " x8")) {
          def rows(df: org.apache.spark.sql.DataFrame) =
            df.as[(Long, Long, Double)].collect().toSeq.sorted
          assert(rows(Dedup.containmentPairsPrefixFromKeys(ck, t)) ==
            rows(Dedup.containmentPairsFromKeys(ck, t)), s"$d t=$t$tag")
        }
      }
    }
  }

  test("zipf corpus: prefix == plain, and the filter is MEASURABLY selective") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val docs = graft.sources.ZipfCorpus.synth(
        graft.sources.Tables.documents(spark, d).select("doc_id")).localCheckpoint()
      val shk = Dedup.shingles(docs)
        .select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
        .localCheckpoint()
      // exactness on the realistic corpus (the equality DedupSpec already
      // pins on the 31-word fixtures, re-proven where prefixes matter)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double)].collect().toSeq.sorted
      for (t <- Seq(0.5, 0.8)) {
        val plain = rows(Dedup.ngramJaccardPairsFromKeys(shk, t))
        assert(rows(Dedup.ngramJaccardPairsPrefixFromKeys(shk, t)) == plain, s"$d t=$t")
        assert(plain.nonEmpty, s"$d t=$t")
      }
      // measured selectivity at t=0.8 — the numbers, not the argument:
      // plain candidate pairs = Σ df·(df−1)/2 (what the inverted-index
      // join feeds the verify); prefix candidates from the operator's
      // OWN candidate stage (Dedup.prefixCandidates — no hand mirror)
      val t = 0.8
      val plainCands = shk.groupBy("shk").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).as[Double].head.toLong
      val prefixCands = Dedup.prefixCandidates(shk, t).count()
      info(s"$d: plain candidates = $plainCands, prefix candidates = $prefixCands " +
        f"(${plainCands.toDouble / math.max(1, prefixCands)}%.0f× fewer)")
      assert(prefixCands * 5 <= plainCands,
        s"prefix filter not selective on zipf corpus at $d: $prefixCands vs $plainCands")

      // 60-bit simhash pigeonhole buckets stay selective here: no
      // (chunk, value) bucket collects a corpus-sized fraction
      val nDocs = docs.count()
      val sh60 = Dedup.simhash60(docs)
      val chunks = (0 until 3).map { k =>
        struct(lit(k).as("c"),
          pmod(shiftright(col("simhash"), k * 20), lit(1L << 20)).as("v"))
      }
      val maxBucket = sh60.select(explode(array(chunks: _*)).as("cv"))
        .groupBy("cv").count().agg(max("count")).as[Long].head
      info(s"$d: simhash60 max chunk-bucket = $maxBucket of $nDocs docs")
      assert(maxBucket <= math.max(4, nDocs / 10),
        s"simhash60 buckets degenerate on zipf corpus at $d: $maxBucket of $nDocs")

      // MinHash-LSH band buckets behave: max (band, bh) bucket bounded
      val sig = Dedup.minhashSignatures(Dedup.shingles(docs), 12, Dedup.Xx)
      val maxBand = Dedup.bandRows(sig, 6, 2, Dedup.Xx)
        .groupBy("band", "bh").count().agg(max("count")).as[Long].head
      info(s"$d: LSH max band-bucket = $maxBand of $nDocs docs")
      assert(maxBand <= math.max(4, nDocs / 10),
        s"LSH band buckets degenerate on zipf corpus at $d: $maxBand of $nDocs")
    }
  }

  test("mutated zipf corpus: graded Jaccard straddles the threshold, tiers agree on borderline pairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.sources.ZipfCorpus.synthMutated(
      graft.sources.Tables.documents(spark, TestSpark.sf001).select("doc_id"))
      .localCheckpoint()
    val shk = Dedup.shingles(docs)
      .select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
      .localCheckpoint()
    val nCopies = docs.filter(col("doc_id") % 25 === 1).count()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSeq.sorted
    val plain = rows(Dedup.ngramJaccardPairsFromKeys(shk, 0.8))
    // the point of the fixture: NOT all copies survive the threshold
    // (mutations push some below 0.8) and the survivors include
    // borderline pairs, not just planted ≈0.97 certainties
    assert(plain.nonEmpty && plain.size < nCopies,
      s"expected a graded distribution: ${plain.size} of $nCopies copies found")
    val js = plain.map(_._3)
    assert(js.min < 0.9, s"no borderline pairs below 0.9: min=${js.min}")
    assert(js.max > 0.95, s"no near-exact pairs: max=${js.max}")
    // prefix filter stays exact on partial-overlap structure
    assert(rows(Dedup.ngramJaccardPairsPrefixFromKeys(shk, 0.8)) == plain)
    // LSH at 6×2 banding finds the same pairs here (borderline s≈0.82
    // has band-collision probability ≈ 1−(1−s²)⁶ ≈ 0.9987 per pair —
    // and the driver gate hash-pins the exact candidate arithmetic)
    val sig = Dedup.minhashSignatures(Dedup.shingles(docs), 12)
    assert(rows(Dedup.minhashLshPairsFromSigKeys(sig, shk, 6, 2, 0.8)) == plain)
  }

  test("zipf corpus at 50k docs: candidate-growth law holds across a third decade") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 500 → 5 000 measured in the test above and BASELINE.md; this pins
    // the 50 000 point with LINEAR work only (candidate counts are
    // aggregates; the plain tier's ~half-billion-pair join itself was
    // measured once, recorded in BASELINE.md "The prefix-filter
    // crossover, measured")
    val n = 50000L
    val docs = graft.sources.ZipfCorpus.synth(
      spark.range(n).select(col("id").as("doc_id"))).localCheckpoint()
    val shk = Dedup.shingles(docs)
      .select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
      .localCheckpoint()
    val plainCands = shk.groupBy("shk").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).as[Double].head.toLong
    val t = 0.8
    val prefixCands = Dedup.prefixCandidates(shk, t).count()
    info(f"50k: plain candidates = $plainCands, prefix candidates = $prefixCands " +
      f"(${plainCands.toDouble / math.max(1, prefixCands)}%.0f× fewer)")
    // the law, three points: plain grows ~quadratically per decade (the
    // boilerplate-header shingles sit at df ≈ N/4, so Σ df²/2 ≈ 3N²/16),
    // prefix stays ~linear (rare tail-word shingles anchor each doc)
    assert(plainCands > 50L * 5158445L, // ≥ 50× the 5k point (theory: ~100×)
      s"plain candidates lost their quadratic growth: $plainCands")
    assert(prefixCands < 30L * 95L, // ≤ 30× the 5k point (theory: ~10×)
      s"prefix candidates no longer linear: $prefixCands")
    assert(plainCands / math.max(1L, prefixCands) > 100000L,
      s"reduction collapsed: $plainCands / $prefixCands")
    // bucket selectivity holds at the third decade too
    val sh60 = Dedup.simhash60(docs)
    val chunks = (0 until 3).map { k =>
      struct(lit(k).as("c"),
        pmod(shiftright(col("simhash"), k * 20), lit(1L << 20)).as("v"))
    }
    val maxBucket = sh60.select(explode(array(chunks: _*)).as("cv"))
      .groupBy("cv").count().agg(max("count")).as[Long].head
    val sig = Dedup.minhashSignatures(Dedup.shingles(docs), 12, Dedup.Xx)
    val maxBand = Dedup.bandRows(sig, 6, 2, Dedup.Xx)
      .groupBy("band", "bh").count().agg(max("count")).as[Long].head
    info(s"50k: simhash60 max chunk-bucket = $maxBucket, LSH max band-bucket = $maxBand")
    assert(maxBucket <= n / 10, s"simhash60 buckets degenerate at 50k: $maxBucket")
    assert(maxBand <= n / 10, s"LSH band buckets degenerate at 50k: $maxBand")
  }

  test("clusters: chain merges into one component, min id wins") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val c = graft.operators.Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("clusters: union-find (1 partition) == min-label loop (8 partitions), row for row") {
    import spark.implicits._
    // the same pair table planned at 1 partition takes the in-task
    // union-find path, at 8 partitions the distributed min-label loop
    // (Spread.isTiny on the symmetric edge checkpoint); both must emit the
    // identical (doc_id, keep_id) rows
    val chain = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val lsh = Dedup.minhashLshPairsFrom(
      Dedup.shingles(graft.sources.Tables.documents(spark, TestSpark.sf001), 3), 6, 2, 0.6)
    for ((pairs, tag) <- Seq(chain -> "chain", lsh -> "sf0.01 LSH pairs")) {
      val p = pairs.localCheckpoint()
      val one = p.coalesce(1)
      val eight = p.repartition(8)
      assert(one.rdd.getNumPartitions == 1 && eight.rdd.getNumPartitions == 8, tag)
      def rows(df: org.apache.spark.sql.DataFrame) =
        Dedup.clusters(df).as[(Long, Long)].collect().toSeq.sorted
      val unionFind = rows(one)
      assert(unionFind.nonEmpty, tag)
      assert(unionFind == rows(eight), tag)
    }
  }

  test("minhash LSH surfaces the exact-dup pair") {
    import spark.implicits._
    val pairs = Dedup.minhashLshPairs(docs, 3, 3, 4, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    // identical docs always share all bands
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    // unrelated doc 4 never appears
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("fast (xxhash64) LSH tier: exact-dup surfaces, verify keeps precision exact") {
    import spark.implicits._
    val sh = Dedup.shingles(docs, 3)
    val fast = Dedup.minhashLshPairsFrom(sh, 3, 4, 0.5, Dedup.Xx)
      .as[(Long, Long, Double)].collect().toSeq
    assert(fast.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    assert(!fast.exists(p => p._1 == 4L || p._2 == 4L))
    // the exact-Jaccard verify makes every emitted pair a true >=threshold
    // pair regardless of hash tier: fast pairs ⊆ all-pairs ground truth
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(fast.map(p => (p._1, p._2)).toSet.subsetOf(exact))
  }

  test("cross-tier containment on sf0.01: fast pairs ⊇ md5 pairs at jaccard >= 0.7") {
    // The production (xxhash64) tier must not lose what the oracle-parity
    // (md5) tier finds. At the actionable-dedup banding (6 bands × 2 rows
    // — the dedup_keep configuration), a j >= 0.7 pair collides in some
    // band with prob >= 1-(1-0.49)^6 ≈ 0.98, and every >=0.7 pair in this
    // corpus is in fact >=0.9 (prob 0.99996) — so above the working
    // threshold the fast tier's pair set must contain every
    // confidently-duplicate md5 pair. (At the 3×4 parity banding the
    // j=0.9 catch prob is only ~0.96/tier — containment genuinely doesn't
    // hold there, which is why dedup_keep rides the 6×2 banding.) Hashes
    // are deterministic, so this is a stable regression lock on real data.
    import spark.implicits._
    val sh = Dedup.shingles(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.01"), 3)
    val md5Hi = Dedup.minhashLshPairsFrom(sh, 6, 2, 0.5)
      .as[(Long, Long, Double)].collect().filter(_._3 >= 0.7)
      .map(p => (p._1, p._2)).toSet
    val fast = Dedup.minhashLshPairsFrom(sh, 6, 2, 0.5, Dedup.Xx)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(md5Hi.nonEmpty) // the corpus plants near-dup pairs
    assert(md5Hi.subsetOf(fast),
      s"fast tier lost ${(md5Hi -- fast).mkString(", ")}")
  }

  test("simhash60: identical docs identical hashes; 60-bit range; pigeonhole pairs") {
    import spark.implicits._
    val sh = Dedup.simhash60(docs)
    val m = sh.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))                      // identical docs
    assert(m.values.forall(v => v >= 0 && v < (1L << 60)))
    assert(m(1L) != m(4L))                      // unrelated docs differ
    val pairs = Dedup.hammingPairs(sh, "doc_id", "simhash", 60, 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    // at 60 bits, hamming<=2 is a REAL near-dup signal: the unrelated doc
    // never pairs (at 16 bits it frequently would by chance)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("banded simhashPairs == all-pairs formulation on the sf0.001 corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = graft.sources.Tables.documents(spark, TestSpark.sf0001)
    val sh = Dedup.simhash(corpus)
    val banded = Dedup.hammingPairs(sh, "doc_id", "simhash", 16, 2)
      .as[(Long, Long, Long)].collect().toSet
    val allPairs = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hm"))
      .filter(col("hm") <= 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == allPairs)
    assert(banded.nonEmpty)
  }

  test("hammingPairs == brute-force bit_count pairs for every shape in use, at 1 and 8 partitions") {
    import spark.implicits._
    // clustered hashes: 40 random bases, each with variants 0..3 bits
    // away, plus exact duplicates and null hashes — near pairs at every
    // distance the budgets straddle
    for ((bits, maxHamming) <- Seq((15, 1), (24, 1), (16, 2), (60, 2))) {
      val rnd = new scala.util.Random(bits * 10 + maxHamming)
      val hashes: Seq[(Long, Option[Long])] = (0 until 40).flatMap { b =>
        val base = rnd.nextLong() & ((1L << bits) - 1)
        (0 until 6).map { v =>
          val flips = (0 until v % 4).map(_ => 1L << rnd.nextInt(bits)).foldLeft(0L)(_ ^ _)
          (b * 6L + v, if (v == 5 && b % 7 == 0) None else Some(base ^ flips))
        }
      }
      val brute = (for {
        (a, Some(ha)) <- hashes; (b, Some(hb)) <- hashes
        if a < b && java.lang.Long.bitCount(ha ^ hb) <= maxHamming
      } yield (a, b, java.lang.Long.bitCount(ha ^ hb).toLong)).toSet
      assert(brute.exists(_._3 == maxHamming), s"($bits, $maxHamming): no pair at the budget")
      assert(brute.exists(_._3 == 0L), s"($bits, $maxHamming): no duplicate pair")
      val df = hashes.toDF("id", "h")
      for (parts <- Seq(1, 8)) {
        val got = Dedup.hammingPairs(df.repartition(parts), "id", "h", bits, maxHamming)
          .as[(Long, Long, Long)].collect()
        val shape = s"($bits, $maxHamming) at $parts partitions"
        assert(got.length == got.toSet.size, s"$shape: duplicate rows")
        assert((brute -- got).isEmpty, s"$shape: missed pairs")
        assert((got.toSet -- brute).isEmpty, s"$shape: pairs beyond the budget")
      }
    }
  }

  test("LSH-fed clusters refine the exact clusters (no false merges)") {
    import spark.implicits._
    val corpus = graft.sources.Tables.documents(spark, TestSpark.sf0001)
    val sh = Dedup.shingles(corpus, 3)
    val lsh = Dedup.clusters(Dedup.minhashLshPairsFrom(sh, 6, 2, 0.6))
      .as[(Long, Long)].collect().toMap
    val exact = Dedup.clusters(Dedup.ngramJaccardPairsFrom(sh, 0.6))
      .as[(Long, Long)].collect().toMap
    // verify keeps precision exact → every LSH merge is a true merge:
    // two docs the LSH path puts in one component share the exact
    // component too (LSH components refine the ground-truth partition)
    assert(lsh.nonEmpty)
    for ((a, ka) <- lsh; (b, kb) <- lsh if ka == kb)
      assert(exact(a) == exact(b), s"LSH merged $a,$b but exact did not")
    // representative is always the component minimum
    assert(lsh.forall { case (d, k) => k <= d })
  }

  test("incremental pairs == full-corpus pairs restricted to the batch split") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val corpus = graft.sources.Tables.documents(spark, TestSpark.sf0001)
    val sh = Dedup.shingles(corpus, 3)
    val sig = Dedup.minhashSignatures(sh, 12)
    val shk0 = sh.select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
    // the same key table as an 8-partition checkpoint leaf: Spread.isTiny
    // is false, so the full-corpus verify takes its shuffled branch
    val shk8 = shk0.repartition(8).localCheckpoint()
    assert(!graft.operators.Spread.isTiny(shk8))
    val isNew = (c: org.apache.spark.sql.Column) => c % 10 === 0
    for ((shk, tag) <- Seq(shk0 -> "", shk8 -> " x8")) {
      val inc = Dedup.minhashLshPairsIncremental(
          sig.filter(isNew(col("doc_id"))), sig.filter(!isNew(col("doc_id"))),
          shk.filter(isNew(col("doc_id"))), shk.filter(!isNew(col("doc_id"))),
          6, 2, 0.6)
        .as[(Long, Long, Double)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      // the same banding over the whole corpus, restricted to cross-split
      // pairs and re-oriented (new, old), must be the identical map: the
      // incremental path changes WHERE candidates come from, not which
      // pairs verify
      val full = Dedup.minhashLshPairsFromSigKeys(sig, shk, 6, 2, 0.6)
        .as[(Long, Long, Double)].collect()
        .filter(t => (t._1 % 10 == 0) != (t._2 % 10 == 0))
        .map(t => if (t._1 % 10 == 0) (t._1, t._2) -> t._3 else (t._2, t._1) -> t._3)
        .toMap
      assert(inc == full, tag)
      assert(inc.nonEmpty, s"fixture has no cross-split near-dup — weak test$tag")
      // direction invariant: left side is always the batch, right the corpus
      assert(inc.keys.forall { case (n, o) => n % 10 == 0 && o % 10 != 0 }, tag)
    }
  }

  test("simhash: identical docs get identical hashes; 16-bit range") {
    import spark.implicits._
    val h = Dedup.simhash(docs).orderBy("doc_id")
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    assert(h.values.forall(v => v >= 0 && v < 65536))
  }
}
