package graft

import graft.operators.{IncrementalIndex, Search}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed goldens for the search pipeline on a 4-doc corpus, plus
  * the reference-contract JSON corpus reader.
  *
  * Fixture (after normalize/tokenize):
  *   doc 1: "the cat sat"          doc 2: "the the dog"
  *   doc 3: "cat dog cat"          doc 4: "bird"
  * vocabulary (word → df, word_id by word order):
  *   bird df=1 id=0, cat df=2 id=1, dog df=2 id=2, sat df=1 id=3, the df=2 id=4
  */
class SearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def fixture = {
    import spark.implicits._
    Seq(
      (1L, "The cat sat!", "en", "s1", 12L),
      (2L, "the THE dog", "en", "s1", 11L),
      (3L, "cat dog cat", "en", "s2", 11L),
      (4L, "bird", "en", "s2", 4L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("vocabulary: df counts and sequential word ids in word order") {
    val v = Search.vocabulary(fixture).orderBy("word")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(v.toSeq == Seq(
      ("bird", 1L, 0L), ("cat", 2L, 1L), ("dog", 2L, 2L),
      ("sat", 1L, 3L), ("the", 2L, 4L)))
  }

  test("postings: per-doc term frequencies") {
    val docs = fixture
    val p = Search.postings(docs, Search.vocabulary(docs))
      .orderBy("doc_id", "word_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(p.toSeq == Seq(
      (1L, 1L, 1L), (1L, 3L, 1L), (1L, 4L, 1L),   // cat sat the
      (2L, 2L, 1L), (2L, 4L, 2L),                  // dog the×2
      (3L, 1L, 2L), (3L, 2L, 1L),                  // cat×2 dog
      (4L, 0L, 1L)))                               // bird
  }

  test("score formula tf_d·tf_q/df² and ranking (quirk Q-b semantics)") {
    // query "the cat" → qtf(the)=1, qtf(cat)=1; df(the)=2, df(cat)=2
    // doc1: the(1·1/4) + cat(1·1/4) = 0.5   doc2: the(2·1/4) = 0.5
    // doc3: cat(2·1/4) = 0.5                doc4: 0
    import spark.implicits._
    val docs = fixture
    val vocab = Search.vocabulary(docs)
    val post = Search.postings(docs, vocab)
    val qt = Search.queryTerms(spark, "the cat").join(vocab, "word")
      .select("word_id", "qtf", "df")
    val scores = post.join(broadcast(qt), "word_id")
      .select(col("doc_id"),
        (col("tf") * col("qtf") / (col("df").cast("double") * col("df"))).as("part"))
      .groupBy("doc_id").agg(sum("part").as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .as[(Long, Double)].collect().toSeq
    assert(scores == Seq((1L, 0.5), (2L, 0.5), (3L, 0.5)))
    // ties broken by doc_id ascending (quirk Q-d decision)
    assert(scores.map(_._1) == Seq(1L, 2L, 3L))
  }

  test("query terms: tokenized with reference filterText, counted") {
    val qt = Search.queryTerms(spark, "The GOOD good 42 person!!")
      .orderBy("word").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(qt.toSeq == Seq(("good", 2L), ("person", 1L), ("the", 1L)))
  }

  test("limit(k) is a prefix of limit(k+1) (SURVEY §5.4)") {
    val k5 = Search.searchTopK(spark, TestSpark.sf0001, Search.DefaultQuery, 5)
      .collect().map(_.toString).toSeq
    val k6 = Search.searchTopK(spark, TestSpark.sf0001, Search.DefaultQuery, 6)
      .collect().map(_.toString).toSeq
    assert(k6.take(5) == k5)
  }

  test("input row order does not change results (SURVEY §5.4)") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf0001)
    val shuffled = docs.orderBy(rand(42)).repartition(7)
    val a = Search.vocabulary(docs).orderBy("word")
      .collect().map(_.toString).toSeq
    val b = Search.vocabulary(shuffled).orderBy("word")
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("score monotonicity: adding a query-term occurrence never lowers a doc's score (SURVEY §5.4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def scoreOf(texts: Seq[String], target: Long): Double = {
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val vocab = Search.vocabulary(docs)
      val post = Search.postings(docs, vocab)
      val qt = Search.queryTerms(spark, "the cat").join(vocab, "word")
        .select("word_id", "qtf", "df")
      post.join(broadcast(qt), "word_id")
        .select(col("doc_id"),
          (col("tf") * col("qtf") / (col("df").cast("double") * col("df"))).as("part"))
        .groupBy("doc_id").agg(sum("part").as("score"))
        .filter(col("doc_id") === target)
        .as[(Long, Double)].collect().headOption.map(_._2).getOrElse(0.0)
    }
    // corpus where dfs of query terms are unchanged by the extra occurrence
    val base = Seq("the cat sat", "the dog ran", "cat nap")
    val boosted = Seq("the cat sat cat", "the dog ran", "cat nap")
    assert(scoreOf(boosted, 0L) >= scoreOf(base, 0L))
    val boostedThe = Seq("the the cat sat", "the dog ran", "cat nap")
    assert(scoreOf(boostedThe, 0L) >= scoreOf(base, 0L))
  }

  test("out-of-vocabulary query returns empty, both paths") {
    val idx = java.nio.file.Files.createTempDirectory("edgeidx").toString
    Search.buildIndex(spark, TestSpark.sf0001, idx)
    val inc = incrementalIndex()
    val docinfo = spark.read.parquet(s"$idx/docinfo")
    val tracker = spark.sparkContext.statusTracker
    // no vocabulary word; no kept token at all (empty, digits and punctuation)
    for (q <- Seq("zzzqx nonexistent 42", "", "42 !!")) {
      val tiers = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "searchTopK" -> (() => Search.searchTopK(spark, TestSpark.sf0001, q, 5)),
        "searchTopKBm25" -> (() => Search.searchTopKBm25(spark, TestSpark.sf0001, q, 5)),
        "searchTopKBm25Stats" ->
          (() => Search.searchTopKBm25Stats(spark, TestSpark.sf0001, docinfo, q, 5)),
        "searchTopKIndexed" -> (() => Search.searchTopKIndexed(spark, idx, q, 5)),
        "searchTopKBm25Indexed" -> (() => Search.searchTopKBm25Indexed(spark, idx, q, 5)),
        "IncrementalIndex.searchTopK" -> (() => IncrementalIndex.searchTopK(spark, inc, q, 5)))
      for ((what, plan) <- tiers) {
        plan().queryExecution.analyzed // absorbs one-time source setup
        val before = tracker.getJobIdsForGroup(null).length
        val df = plan()
        df.queryExecution.analyzed
        val after = tracker.getJobIdsForGroup(null).length
        assert(after == before, s"$what '$q': plan build ran ${after - before} eager job(s)")
        assert(df.count() == 0, s"$what '$q'")
      }
    }
  }

  /** An incremental index of sf0.001, ingested as two batches (doc_id % 2). */
  def incrementalIndex(): String = {
    val idx = java.nio.file.Files.createTempDirectory("tierinc").toString
    val docs = Tables.documents(spark, TestSpark.sf0001)
    for (b <- 0 to 1) IncrementalIndex.ingestBatch(docs.filter(col("doc_id") % 2 === b), idx, b.toLong)
    idx
  }

  test("search tiers agree row for row: BM25 in-plan/stats/indexed, parity in-plan/indexed") {
    val idx = java.nio.file.Files.createTempDirectory("tieridx").toString
    Search.buildIndex(spark, TestSpark.sf0001, idx)
    val inc = incrementalIndex()
    val docinfo = spark.read.parquet(s"$idx/docinfo")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    // the in-plan tiers once more on an 8-file copy, which takes their
    // scale branch (no SinglePartition pin, no cut)
    val dir8 = java.nio.file.Files.createTempDirectory("tier8").toString
    Tables.documents(spark, TestSpark.sf0001).repartition(8)
      .write.parquet(s"$dir8/documents.parquet")
    assert(!graft.operators.Spread.isTiny(Tables.documents(spark, dir8)))
    val queries = Seq(Search.DefaultQuery, // default, repeated term
      "the a of the and to is in the table", // stopword-heavy
      "fast zzzqx scan") // one term missing from the vocabulary
    for (q <- queries) {
      val bm25 = rows(Search.searchTopKBm25(spark, TestSpark.sf0001, q))
      assert(bm25.nonEmpty, q)
      assert(rows(Search.searchTopKBm25Stats(spark, TestSpark.sf0001, docinfo, q)) == bm25, q)
      assert(rows(Search.searchTopKBm25Indexed(spark, idx, q)) == bm25, q)
      val parity = rows(Search.searchTopK(spark, TestSpark.sf0001, q))
      assert(parity.nonEmpty, q)
      assert(rows(Search.searchTopKIndexed(spark, idx, q)) == parity, q)
      assert(rows(IncrementalIndex.searchTopK(spark, inc, q)) == parity, q)
      assert(rows(Search.searchTopKBm25(spark, dir8, q)) == bm25, s"$q x8")
      assert(rows(Search.searchTopKBm25Stats(spark, dir8, docinfo, q)) == bm25, s"$q x8")
      assert(rows(Search.searchTopK(spark, dir8, q)) == parity, s"$q x8")
    }
  }

  test("searchTopK plan construction is fully lazy — zero Spark jobs") {
    val tracker = spark.sparkContext.statusTracker
    val idx = java.nio.file.Files.createTempDirectory("lazyidx").toString
    Search.buildIndex(spark, TestSpark.sf0001, idx)
    val inc = incrementalIndex()
    val plans = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "searchTopK" -> (() => Search.searchTopK(spark, TestSpark.sf0001)),
      "searchTopKIndexed" -> (() => Search.searchTopKIndexed(spark, idx)),
      "searchTopKBm25Indexed" -> (() => Search.searchTopKBm25Indexed(spark, idx)),
      "IncrementalIndex.searchTopK" ->
        (() => IncrementalIndex.searchTopK(spark, inc, Search.DefaultQuery)))
    for ((what, plan) <- plans) {
      // first build absorbs one-time source setup (parquet footer/listing
      // can run a job on first read of a table); the plan itself must then
      // build job-free. An eager job (e.g. a collect inside plan building)
      // completes synchronously inside the call, so ids are visible after.
      plan().queryExecution.analyzed
      val before = tracker.getJobIdsForGroup(null).length
      val df = plan()
      df.queryExecution.analyzed // force analysis, still no action
      val after = tracker.getJobIdsForGroup(null).length
      assert(after == before, s"$what: plan build ran ${after - before} eager job(s)")
      assert(df.count() == 10, what) // the action itself still works
    }
  }

  /** The Spark jobs one `collect()` of `df` starts. */
  def jobsOf(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { df.collect(); org.apache.spark.TestBus.drain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  test("indexed search job gate: parity 3 jobs, BM25 5, the same every run") {
    // the index of an 8-file copy: docinfo plans more than 4 partitions, so
    // the counts hold past the tiny-path pins (the postings read stays ≤ |q|
    // bucket files whatever the corpus size)
    val dir8 = java.nio.file.Files.createTempDirectory("jobs8").toString
    Tables.documents(spark, TestSpark.sf0001).repartition(8)
      .write.parquet(s"$dir8/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("jobsidx").toString
    Search.buildIndex(spark, dir8, idx)
    assert(Search.openIndex(spark, idx).docinfo.rdd.getNumPartitions > 4)
    val queries = Seq(Search.DefaultQuery,
      "zzzqx nonexistent", // every word absent from the vocabulary
      "scan zzzqx scan") // a repeated word and an absent one
    for (q <- queries) {
      // vocabulary rows + docinfo broadcasts, the top-k; BM25 adds N/avgdl
      // (a docinfo aggregate: its exchange and its broadcast)
      val parity = Seq.fill(2)(jobsOf(Search.searchTopKIndexed(spark, idx, q)))
      assert(parity == Seq(3, 3), s"searchTopKIndexed '$q'")
      val bm25 = Seq.fill(2)(jobsOf(Search.searchTopKBm25Indexed(spark, idx, q)))
      assert(bm25 == Seq(5, 5), s"searchTopKBm25Indexed '$q'")
    }
  }

  test("searchTopK end-to-end on sf0.001 returns k rows, deterministic") {
    val a = Search.searchTopK(spark, TestSpark.sf0001, "the fast table scan the", 10).collect()
    val b = Search.searchTopK(spark, TestSpark.sf0001, "the fast table scan the", 10).collect()
    assert(a.length == 10)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("typed boundary: Dataset[VocabEntry]/[Posting]/[SearchHit] bind") {
    val v: graft.model.VocabEntry =
      Search.vocabularyDS(fixture).orderBy("word").head()
    assert(v == graft.model.VocabEntry("bird", 1L, 0L))
    val p = Search.postingsDS(fixture).orderBy("doc_id", "word_id").head()
    assert(p == graft.model.Posting(1L, 1L, 1L))
    val hits = Search.searchTopKDS(spark, TestSpark.sf0001).collect()
    assert(hits.length == 10 && hits.head.score >= hits.last.score)
  }

  test("searchCorpus: the reference's Query.java contract end-to-end (title, url)") {
    // corpus where "good person" scoring is hand-checkable:
    //   df(good)=2, df(person)=2, df(the)=3 (all docs)
    //   doc 1: good person        → good 1 + person 1
    //   doc 2: good good          → good 2
    //   doc 3: person             → person 1
    // score = Σ tf_d·tf_q/df²; qtf all 1 → doc1: 2/4=0.5, doc2: 2/4=0.5, doc3: 1/4
    // tie doc1/doc2 → doc_id order
    val dir = java.nio.file.Files.createTempDirectory("corpus2").toFile
    val pw = new java.io.PrintWriter(new java.io.File(dir, "AA_wiki_00"))
    pw.println("""{"id": "1", "url": "u1", "title": "T1", "text": "the good person"}""")
    pw.println("""{"id": "2", "url": "u2", "title": "T2", "text": "the good good"}""")
    pw.println("""{"id": "3", "url": "u3", "title": "T3", "text": "the person"}""")
    pw.close()
    val hits = graft.operators.Search
      .searchCorpus(spark, dir.getAbsolutePath, "the good person", 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // "the" contributes 1·1/9 to every doc; ranking driven by good/person
    assert(hits == Seq(("T1", "u1"), ("T2", "u2")))
  }

  test("phraseTopK: row-local bigram counts match a hand count, adjacency not bag-of-words") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft-phrase").toFile
    Seq(
      (0L, "table hash table hash join", "en", "s", 1L),  // tf 2
      (1L, "hash table only here", "en", "s", 1L),        // reversed order: no match
      (2L, "one table hash here", "en", "s", 1L),         // tf 1
      (3L, "no phrase at all", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val got = graft.operators.Search.phraseTopK(spark, dir.getAbsolutePath, "table hash", 10)
      .select("doc_id", "phrase_tf").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 2L, 2L -> 1L)) // doc 1 (reversed) and doc 3 (absent) excluded
  }

  test("corpusJson reads the reference's JSON-lines contract with AA* glob") {
    val dir = java.nio.file.Files.createTempDirectory("corpus").toFile
    val aa = new java.io.PrintWriter(new java.io.File(dir, "AA_wiki_00"))
    aa.println("""{"id": "12", "url": "http://x/12", "title": "Anarchism", "text": "the cat"}""")
    aa.println("""{"id": "13", "url": "http://x/13", "title": "Autism", "text": "a dog"}""")
    aa.close()
    val zz = new java.io.PrintWriter(new java.io.File(dir, "ZZ_ignored"))
    zz.println("""{"id": "99", "url": "http://x/99", "title": "Nope", "text": "nope"}""")
    zz.close()
    val df = Tables.corpusJson(spark, dir.getAbsolutePath)
    assert(df.columns.toSeq == Seq("id", "url", "title", "text"))
    assert(df.count() == 2) // ZZ file excluded by glob
    assert(df.filter(col("id") === 12L).select("title").head().getString(0) == "Anarchism")
  }
}
