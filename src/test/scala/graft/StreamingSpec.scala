package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming behavior: windowed aggregation under a watermark,
  * stateful sessionization, and file-source streaming — each checked against
  * its batch twin where one exists.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)

  test("streaming tokenizer encode (BOTH families) equals the batch encode " +
    "at every prefix; OOV falls back then drops whole; replay is a no-op") {
    import spark.implicits._
    import graft.operators.{Bpe, Ulm}
    implicit val sc = spark.sqlContext
    // training corpus = exactly the docs that will stream (ids frozen over
    // its full type table), alphabet {a,b,c}
    val trainDocs = Seq(
      (1L, "aba abba cab"), (2L, "bac abba abc"), (3L, "cabba bacab abba"),
      (4L, "abcabc ba ab"), (5L, "ccc ab cab"))
    val train = trainDocs.toDF("doc_id", "text").localCheckpoint()
    // two streamed-only docs: 6 carries an out-of-alphabet word ("zz" must
    // drop WHOLE, the rest of the doc encodes); 7 is an unseen TYPE of
    // seen characters (the model-fallback path must encode it)
    val doc6 = (6L, "ab zz ba")
    // the positive fallback case differs per family: BPE can compose any
    // string over in-vocab symbols ("ccba" — chars survive as symbols);
    // the trained ULM vocabulary here is whole-word pieces (every train
    // type segments as itself), so its representable unseen type is a
    // CONCATENATION of train words — and "ccba" must drop WHOLE (the
    // closed-vocabulary contract, asserted below)
    val bpeDoc7 = (7L, "ccba ab")
    val ulmDoc7 = (7L, "abbacab ab")
    // ---- frozen BPE model
    val merges = Bpe.trainBatched(train, 4, batch = 1)
    val wt = Bpe.wordTypes(train).localCheckpoint()
    val bWids = Bpe.wordIds(wt, merges).localCheckpoint()
    val symIds = Bpe.symbolIds(wt, merges).localCheckpoint()
    val bWant = Bpe.encode(train, merges).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val symOf = symIds.collect().map(r => r.getInt(1) -> r.getString(0)).toMap
    // ---- frozen unigram-LM model
    val (uModel, uSeg0) = Ulm.train(train)
    val uSeg = uSeg0.localCheckpoint()
    val uWids = Ulm.wordIds(uSeg).localCheckpoint()
    val pids = Ulm.pieceIds(uSeg).localCheckpoint()
    val uCosts = uModel.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val uWant = Ulm.encode(train, uSeg).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val pieceOf = pids.collect().map(r => r.getInt(1) -> r.getString(0)).toMap

    def drive(label: String, ingest: org.apache.spark.sql.DataFrame => (String, org.apache.spark.sql.streaming.StreamingQuery),
              want: Map[Long, (String, Long)], idOf: Map[Int, String],
              doc7: (Long, String), doc7Decode: String,
              encodeBatch: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val mem = MemoryStream[(Long, String)]
      val (out, q) = ingest(mem.toDF.toDF("doc_id", "text"))
      val batches = Seq(Seq(trainDocs(0), trainDocs(1)),
        Seq(trainDocs(2), trainDocs(3)), Seq(trainDocs(4), doc6, doc7))
      try {
        var streamed = Set.empty[Long]
        batches.foreach { bdocs =>
          mem.addData(bdocs: _*)
          q.processAllAvailable()
          streamed = streamed ++ bdocs.map(_._1)
          val got = graft.streaming.DocStreams.readOutput(spark, out).get
            .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
          assert(got.keySet == streamed, s"$label: doc set after ${streamed.size}")
          // train-corpus docs: bit-equal to the registered batch encode
          streamed.filter(want.contains).foreach { id =>
            assert(got(id) == want(id), s"$label: doc $id diverged from batch encode")
          }
          // streamed-only docs: ids decode back to exactly the in-model words
          if (streamed(6L)) {
            val words6 = got(6L)._1.split(" ").map(i => idOf(i.toInt))
            assert(words6.mkString("") == "abba", // "zz" dropped whole, ab+ba remain
              s"$label: doc 6 decoded to ${words6.mkString}")
          }
          if (streamed(7L)) {
            val words7 = got(7L)._1.split(" ").map(i => idOf(i.toInt))
            assert(words7.mkString("") == doc7Decode,
              s"$label: unseen type did not encode through the model fallback")
          }
        }
        // crash-replay of the FIRST committed batch: same body, same
        // batchId — output must be byte-identical (writeBatch no-op)
        val before = graft.streaming.DocStreams.readOutput(spark, out).get
          .collect().map(_.toString).sorted.toSeq
        val b0 = Seq(trainDocs(0), trainDocs(1)).toDF("doc_id", "text")
        graft.operators.BatchCommit.writeBatch(encodeBatch(b0), out, 0L)
        val after = graft.streaming.DocStreams.readOutput(spark, out).get
          .collect().map(_.toString).sorted.toSeq
        assert(after == before, s"$label: replay changed committed output")
      } finally q.stop()
    }

    val bOut = java.nio.file.Files.createTempDirectory("bpeenc").toString + "/ids"
    drive("bpe",
      df => (bOut, graft.streaming.TokenStreams.bpeEncodeIngest(df, merges, bWids, symIds, bOut)),
      bWant, symOf, bpeDoc7, "ccbaab",
      b => graft.streaming.TokenStreams.bpeEncodeBatch(b, merges, bWids, symIds))
    val uOut = java.nio.file.Files.createTempDirectory("ulmenc").toString + "/ids"
    drive("ulm",
      df => (uOut, graft.streaming.TokenStreams.ulmEncodeIngest(df, uCosts, Ulm.Params().maxPieceLen, uWids, pids, uOut)),
      uWant, pieceOf, ulmDoc7, "abbacabab",
      b => graft.streaming.TokenStreams.ulmEncodeBatch(b, uCosts, Ulm.Params().maxPieceLen, uWids, pids))
    // the unrepresentable unseen type drops WHOLE under the ULM closed
    // vocabulary (no in-vocab path for "ccba" — whole-word pieces only)
    val ccba = graft.streaming.TokenStreams.ulmEncodeBatch(
      Seq((9L, "ccba ab")).toDF("doc_id", "text"),
      uCosts, Ulm.Params().maxPieceLen, uWids, pids).collect()
    assert(ccba.length == 1 &&
      ccba(0).getString(1).split(" ").map(i => pieceOf(i.toInt)).mkString("") == "ab")
  }

  test("hourly window over a file stream matches the batch twin") {
    import spark.implicits._
    // stage a small slice of events as a streaming source dir
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    val batch = graft.sources.Tables.events(spark, TestSpark.sf0001).limit(200)
    batch.write.mode("overwrite").parquet(dir)

    val stream = EventStreams.hourlyWindow(
      spark.readStream.schema(EventStreams.eventSchema).parquet(dir))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hourly_out")
        .orderBy("hour", "event_type")
        .collect().map(_.toString).toSeq
      val want = spark.read.parquet(dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), graft.functions.Stable.dsum(col("value"), 2).as("sum_value"))
        .orderBy("hour", "event_type")
        .collect().map(_.toString).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("watermark drops late events in append mode") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF.toDF("ts", "event_type", "value")
    val agg = EventStreams.hourlyWindow(
      df.select(lit(0L).as("event_id"), col("ts"), lit(0L).as("user_id"),
        col("event_type"), col("value"), lit("{}").as("props")))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    try {
      // batch 1: events at t=0h and t=3h — watermark advances past hour 0
      mem.addData((ts(5), "a", 1.0), (ts(180), "a", 1.0))
      q.processAllAvailable()
      // batch 2: a late event back in hour 0 (beyond 10-min watermark) — dropped
      mem.addData((ts(6), "a", 100.0))
      q.processAllAvailable()
      // batch 3: advance far so all windows close and emit
      mem.addData((ts(600), "a", 1.0))
      q.processAllAvailable()
      val out = spark.table("wm_out").orderBy("hour")
        .select("hour", "n", "sum_value").collect()
      val hour0 = out.head
      assert(hour0.getLong(1) == 1L)          // late event NOT counted
      assert(hour0.getDouble(2) == 1.0)
    } finally q.stop()
  }

  test("streaming exact dedup: first arrival kept, in-horizon dups dropped") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF.toDF("doc_id", "ts", "text")
    val q = graft.streaming.DocStreams.dedupExact(docs, "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      // batch 1: two distinct texts + an in-batch duplicate
      mem.addData((1L, ts(0), "aa"), (2L, ts(1), "bb"), (3L, ts(2), "aa"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate within the horizon → dropped;
      // a new text → kept
      mem.addData((4L, ts(5), "bb"), (5L, ts(6), "cc"))
      q.processAllAvailable()
      val kept = spark.table("dedup_out")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 5L))
    } finally q.stop()
  }

  test("streaming near-dup dedup: LSH state across batches, novel docs survive") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF.toDF("doc_id", "text")
    val state = java.nio.file.Files.createTempDirectory("neardupstate").toString + "/sigs"
    val out = java.nio.file.Files.createTempDirectory("neardupout").toString + "/docs"
    val q = graft.streaming.DocStreams.dedupNearIngest(docs, state, out)
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    try {
      // batch 1: base text + an unrelated doc + an in-batch exact dup
      mem.addData((1L, base), (2L, "one two three four five six seven eight"),
        (3L, base))
      q.processAllAvailable()
      // batch 2: a cross-batch NEAR dup of doc 1 (one word changed), an
      // exact cross-batch dup of doc 2, and a genuinely novel doc
      mem.addData((4L, base.replace("theta", "iota")),
        (5L, "one two three four five six seven eight"),
        (6L, "red orange yellow green blue indigo violet crimson"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = graft.streaming.DocStreams.readOutput(spark, out).get
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 6L))
    // state holds band rows ONLY for survivors
    val full = graft.streaming.DocStreams.stateBands(spark, state).get
    val stateIds = full.select("doc_id").distinct().as[Long].collect().toSet
    assert(stateIds == Set(1L, 2L, 6L))
    // the state scan a micro-batch issues is partition-PRUNED to the
    // (band, bkt) buckets the batch's own band rows hash into — the scan
    // must show PartitionFilters, and the pruned view must agree with a
    // plain filter over the full table
    val one = full.select("band", "bkt").distinct().limit(1)
      .collect().map(r => (r.getInt(0), r.getInt(1))).head
    val pruned = graft.streaming.DocStreams
      .prunedStateBands(spark, state, Seq(one)).get
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*band[^\\]]*\\].*"), plan)
    assert(pruned.count() ==
      full.filter(col("band") === one._1 && col("bkt") === one._2).count())
    assert(pruned.count() > 0)
  }

  test("streaming token-budget mixing: quotas fill across batches, never overflow, replay idempotent") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // 4-token and 5-token docs: s0 quota 10 holds exactly two 4-token
    // docs (whichever two hash first), s1 quota 5 rejects a 6-token doc
    // but accepts a later 5-token one
    def txt(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF.toDF("doc_id", "text", "source")
    val out = java.nio.file.Files.createTempDirectory("mixout").toString + "/docs"
    val totals = java.nio.file.Files.createTempDirectory("mixtotals").toString + "/totals"
    val quotas = Map("s0" -> 10L, "s1" -> 5L)
    val q = graft.streaming.DocStreams.mixIngest(docs, quotas, out, totals)
    try {
      mem.addData((1L, txt(4), "s0"), (2L, txt(4), "s0"), (3L, txt(4), "s0"),
        (4L, txt(6), "s1"), (5L, txt(3), "nope"))
      q.processAllAvailable()
      mem.addData((6L, txt(2), "s0"), (7L, txt(5), "s1"))
      q.processAllAvailable()
    } finally q.stop()
    def output = graft.operators.BatchCommit.readCommitted(spark, out).get
      .select("doc_id", "source", "n_tok", "cum")
      .as[(Long, String, Long, Long)].collect().toSeq
    val got = output
    // per-source totals within quota; s0 full (2×4 then +2), s1 = the 5-token doc
    val bySrc = got.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(bySrc == Map("s0" -> 10L, "s1" -> 5L))
    assert(got.count(_._2 == "s0") == 3) // two 4-token docs + the 2-token top-up
    assert(got.map(_._1).toSet.intersect(Set(4L, 5L)).isEmpty) // overflow + unquota'd dropped
    // cum is consistent: within each source, sorted cum ends at the total
    for ((src, rows) <- got.groupBy(_._2))
      assert(rows.map(_._4).max == bySrc(src))
    // crash-replay of batch 1 (both writes already committed): the body
    // recomputes against strictly-prior totals and changes nothing
    val b1 = Seq((6L, txt(2), "s0"), (7L, txt(5), "s1"))
      .toDF("doc_id", "text", "source")
    val replayKept = graft.streaming.DocStreams.mixBatch(b1, quotas, totals, 1L)
      .as[(Long, String, Long, Long)].collect().toSeq
    graft.operators.BatchCommit.writeBatch(
      replayKept.toDF("doc_id", "source", "n_tok", "cum"), out, 1L)
    assert(output.sorted == got.sorted, "replay changed the committed output")
    // and the replayed decision itself matches what batch 1 originally kept
    assert(replayKept.map(_._1).toSet == Set(6L, 7L))
  }

  test("streaming curation: gates, scoring, decontam, and near-dup state compose") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // letter-only words (a digit-bearing word counts into digit_ratio and
    // would sink the quality score)
    def ws(prefix: String, n: Int) = (0 until n)
      .map(i => s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val stop = Seq("the", "and", "of")
    val span = ws("s", 6)
    val evalSpan = ws("ev", 12)
    val a = (stop ++ ws("w", 32)).mkString(" ")              // clean, novel
    val aDup = a.split(" ").dropRight(1).mkString(" ") + " zzz" // near-dup of a
    val b = "short text only"                               // fails length gate
    val c = (stop ++ ws("c", 20) ++ evalSpan).mkString(" ") // contaminated
    val d = (stop ++ ws("d", 32)).mkString(" ")              // clean, novel
    val e = (stop ++ ws("e", 21) ++ span ++ ws("m", 3) ++ span).mkString(" ") // repetitive
    val f = (Seq("and", "the", "of") ++ ws("f", 32)).mkString(" ") // no LM bigram known
    // the pre-trained scoring model and the eval shingle set — fixed side
    // inputs (f's text is deliberately NOT in the training corpus)
    val lm = graft.operators.TextAnalysis.bigramLm(
      Seq((100L, a), (101L, c), (102L, d), (103L, e)).toDF("doc_id", "text"))
      .localCheckpoint()
    val bench = graft.operators.Dedup.shingles(
      Seq((0L, evalSpan.mkString(" "))).toDF("doc_id", "text")).localCheckpoint()
    val mem = MemoryStream[(Long, String)]
    val state = java.nio.file.Files.createTempDirectory("curatestate").toString + "/sigs"
    val out = java.nio.file.Files.createTempDirectory("curateout").toString + "/docs"
    val q = graft.streaming.DocStreams.curateIngest(
      mem.toDF.toDF("doc_id", "text"), lm, bench, state, out, maxNll = 10.0)
    try {
      mem.addData((1L, a), (2L, b), (3L, c))
      q.processAllAvailable()
      mem.addData((4L, aDup), (5L, d), (6L, e), (7L, f))
      q.processAllAvailable()
    } finally q.stop()
    val kept = graft.streaming.DocStreams.readOutput(spark, out).get
      .select("doc_id").as[Long].collect().toSet
    // 1 survives; 2 fails the length gate; 3 shares 10 eval shingles (> 4);
    // 4 is a cross-batch near-dup of 1; 6 repeats a 6-gram (rep > 0.05);
    // 7's bigrams are all unknown to the LM (unknown-language → reject)
    assert(kept == Set(1L, 5L))
    // state holds band rows only for curated survivors
    val stateIds = graft.streaming.DocStreams.stateBands(spark, state).get
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(stateIds == Set(1L, 5L))
  }

  test("crash-replay of a batch re-emits nothing: output and state idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("neardupreplay").toString
    val out = java.nio.file.Files.createTempDirectory("neardupreplayout").toString + "/docs"
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    // the ingest body, exactly as dedupNearIngest runs it per micro-batch
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val (novel, st) = graft.streaming.DocStreams.dedupNearLshBatch(b, dir, batchId = id)
      graft.operators.BatchCommit.writeBatch(novel, out, id)
      graft.operators.BatchCommit.writeBatch(st, s"$dir/bands", id, Seq("band", "bkt"))
    }
    val b0 = Seq(1L -> base, 2L -> "one two three four five six seven eight")
      .toDF("doc_id", "text")
    run(b0, 0L)
    // crash between the writes and the checkpoint commit → the SAME batch
    // is re-delivered with its output and state already on disk: the
    // replay must recompute against strictly-prior state (its own batch
    // dir excluded) and re-emit nothing new
    run(b0, 0L)
    val b1 = Seq(3L -> base.replace("theta", "iota"), // near-dup of doc 1
        4L -> "red orange yellow green blue indigo violet crimson")
      .toDF("doc_id", "text")
    run(b1, 1L)
    run(b1, 1L) // replayed too
    def keptDocs = graft.streaming.DocStreams.readOutput(spark, out).get
      .select("doc_id").as[Long].collect().toSeq
    val kept = keptDocs
    assert(kept.size == kept.distinct.size, s"duplicate doc_ids in output: $kept")
    assert(kept.toSet == Set(1L, 2L, 4L)) // decisions unchanged by replay
    assert(graft.streaming.DocStreams.stateBands(spark, dir).get
      .select("doc_id").distinct().as[Long].collect().toSet == Set(1L, 2L, 4L))
    // the harder window: batch 1's state rows get folded into a compacted
    // dir, THEN the batch replays (own-dir exclusion can no longer hide
    // its rows, the novel set recomputes empty) — the committed-output
    // guard must keep the original batch output rather than clobber it
    graft.streaming.DocStreams.compactState(spark, dir)
    run(b1, 1L)
    val kept2 = keptDocs
    assert(kept2.sorted == kept.sorted, "post-compaction replay changed the output")
    // and the state still rejects near-dups / admits novel docs
    val (novel2, _) = graft.streaming.DocStreams.dedupNearLshBatch(
      Seq(5L -> base.replace("theta", "kappa"),
        6L -> "lorem ipsum dolor sit amet consectetur adipiscing elitx")
        .toDF("doc_id", "text"), dir, batchId = 2L)
    assert(novel2.select("doc_id").as[Long].collect().toSet == Set(6L))
  }

  test("near-dup state compaction: fewer files, identical rows and decisions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("neardupcompact").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    def writeBatch(docs: Seq[(Long, String)], id: Long): Unit = {
      val (_, st) = graft.streaming.DocStreams
        .dedupNearLshBatch(docs.toDF("doc_id", "text"), dir, batchId = id)
      graft.operators.BatchCommit.writeBatch(st, s"$dir/bands", id, Seq("band", "bkt"))
    }
    // two batches of distinct docs: enough band rows (40 docs × 6 bands per
    // batch into 384 buckets) that many buckets get files from BOTH batches
    writeBatch((1L, base) +:
      (2L to 40L).map(i => i -> s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"), 0L)
    writeBatch((41L to 80L).map(i => i -> s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"), 1L)
    def parquetFiles: Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/bands"))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    val before = parquetFiles
    def stateRows = graft.streaming.DocStreams.stateBands(spark, dir).get
      .collect().map(_.toString).sorted.toSeq
    val rowsBefore = stateRows
    graft.streaming.DocStreams.compactState(spark, dir)
    assert(parquetFiles < before)
    val rowsAfter = stateRows
    assert(rowsAfter == rowsBefore)
    // post-compaction decisions unchanged: a near-dup of doc 1 is dropped,
    // a novel doc survives
    val (novel, _) = graft.streaming.DocStreams.dedupNearLshBatch(
      Seq(81L -> base.replace("theta", "iota"),
        82L -> "red orange yellow green blue indigo violet crimson")
        .toDF("doc_id", "text"), dir)
    assert(novel.select("doc_id").as[Long].collect().toSet == Set(82L))
  }

  test("deduped streaming ingest builds a searchable incremental index") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String, Long)]
    val docs = mem.toDF.toDF("doc_id", "ts", "text", "source", "lang", "n_chars")
    def doc(id: Long, m: Long, text: String) =
      (id, ts(m), text, s"s$id", "en", text.length.toLong)
    val idx = java.nio.file.Files.createTempDirectory("dedupidx").toString
    val q = graft.streaming.DocStreams.dedupIngest(docs, idx)
    try {
      mem.addData(doc(1L, 0, "alpha beta gamma"), doc(2L, 1, "delta epsilon zeta"))
      q.processAllAvailable()
      mem.addData(doc(3L, 2, "alpha beta gamma"), // dup of 1 → never indexed
        doc(4L, 3, "eta theta iota"))
      q.processAllAvailable()
    } finally q.stop()
    val vocab = graft.operators.IncrementalIndex.vocabulary(spark, idx)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab.size == 9) // 3 docs × 3 unique words; the dup added nothing
    assert(vocab("alpha") == 1L && vocab("eta") == 1L)
    val hits = graft.operators.IncrementalIndex.searchTopK(spark, idx, "alpha beta", 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(hits == Seq(1L))
  }

  test("streaming vector ingest folds into the IVF index; queries still prune") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val idx = java.nio.file.Files.createTempDirectory("vecidx").toString
    // build the index (and train centroids) on the first half of the corpus
    graft.operators.Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 2 === 0), idx, graft.operators.Similarity.KmeansCells())
    def cellsNow = graft.operators.Similarity.cellsTable(spark, idx)
    val before = cellsNow.count()
    // stream in the second half as two micro-batches
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val docs = mem.toDF.toDF("vec_id", "embedding", "label")
    val rest = emb.filter(col("vec_id") % 2 === 1)
      .as[(Long, Array[Float], Int)].collect()
    val q = graft.streaming.VectorStreams.vectorIngest(docs, idx)
    try {
      mem.addData(rest.take(rest.length / 2).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(rest.drop(rest.length / 2).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(cellsNow.count() == before + rest.length)
    // crash-replay of micro-batch 1 (same id, same rows): the batch-keyed
    // overwrite must leave the index byte-identical — no duplicate vectors
    graft.streaming.VectorStreams.ingestVectorBatch(
      rest.drop(rest.length / 2).toIndexedSeq.toDF("vec_id", "embedding", "label"),
      idx, batchId = 1L)
    assert(cellsNow.count() == before + rest.length)
    val cells = cellsNow
    // ingested assignments agree with a batch assignment vs the SAME centroids
    val cent = spark.read.parquet(s"$idx/centroids")
    val p = graft.operators.Similarity.prepared(emb.filter(col("vec_id") % 2 === 1))
    val want = graft.operators.Similarity.kmeansAssign(p.select("vec_id", "e"), cent)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val got = cells.select("vec_id", "cell").as[(Long, Int)].collect()
      .filter(x => x._1 % 2 == 1).toMap
    assert(got == want)
    // ANN query over the grown index still partition-prunes
    val df = graft.operators.Similarity.ivfTopKIndexed(
      spark, idx, graft.operators.Similarity.KmeansCells(), emb.filter(col("vec_id") < 5), 3)
    assert(df.queryExecution.executedPlan.toString.contains("PartitionFilters: [cell"))
    assert(df.count() > 0)
  }

  test("streaming PQ ingest folds codes into the index; queries stay codes-only and exact") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val idx = java.nio.file.Files.createTempDirectory("pqidx").toString
    // codebooks trained on the first half; second half arrives as a stream
    graft.operators.Similarity.buildPqIndex(emb.filter(col("vec_id") % 2 === 0), idx)
    def codesNow = graft.operators.Similarity.pqCodesTable(spark, idx)
    val before = codesNow.count()
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val rest = emb.filter(col("vec_id") % 2 === 1)
      .as[(Long, Array[Float], Int)].collect()
    val q = graft.streaming.VectorStreams.pqIngest(
      mem.toDF.toDF("vec_id", "embedding", "label"), idx)
    try {
      mem.addData(rest.take(rest.length / 2).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(rest.drop(rest.length / 2).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(codesNow.count() == before + rest.length)
    // crash-replay of micro-batch 1: batch-keyed write → index unchanged
    graft.streaming.VectorStreams.pqIngestBatch(
      rest.drop(rest.length / 2).toIndexedSeq.toDF("vec_id", "embedding", "label"),
      idx, batchId = 1L)
    assert(codesNow.count() == before + rest.length)
    // streamed-in codes agree with a batch encode vs the SAME codebooks
    val cbs = graft.operators.Similarity.pqCodebooksFromDf(
      spark.read.parquet(s"$idx/codebooks"))
    val p = graft.operators.Similarity.prepared(emb.filter(col("vec_id") % 2 === 1))
    val want = graft.operators.Similarity.pqEncode(p.select("vec_id", "e"), cbs)
      .as[(Long, Seq[Int])].collect().toMap
    val got = codesNow.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(got == want)
    // the grown index answers with full k and TRUE cosines (exact re-rank)
    val pq = graft.operators.Similarity.knnPqIndexed(spark, idx, emb, 10, 5)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    assert(pq.length == 50)
    val brute = graft.operators.Similarity.bruteForceTopK(emb, 10, 2000)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pq.forall { case (qq, n, c) => brute((qq, n)) == c })
  }

  test("PQ retrain is the PQ build under the lease: folded batches are ledgered, a replay stays out") {
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val idx = java.nio.file.Files.createTempDirectory("pqretrain").toString
    val codes = s"$idx/codes"
    graft.operators.Similarity.buildPqIndex(emb.filter(col("vec_id") % 2 === 0), idx)
    assert(graft.operators.BatchCommit.foldedIds(spark, codes).isEmpty) // nothing to fold
    val odd = emb.filter(col("vec_id") % 2 === 1)
    graft.streaming.VectorStreams.pqIngestBatch(odd, idx, batchId = 3L)
    graft.streaming.VectorStreams.retrainPqIndex(spark, idx, emb)
    assert(graft.operators.BatchCommit.foldedIds(spark, codes) == Set(3L))
    val n = emb.count()
    assert(graft.operators.Similarity.pqCodesTable(spark, idx).count() == n)
    // crash-replay of the folded batch: skipped, its rows are not doubled
    graft.streaming.VectorStreams.pqIngestBatch(odd, idx, batchId = 3L)
    assert(graft.operators.Similarity.pqCodesTable(spark, idx).count() == n)
  }

  test("IVF centroid retrain + swap recovers recall after drift") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = 16
    def mk(i: Int, center: Array[Float]) = {
      val v = Array.tabulate(dim)(j => center(j) + ((i * 37 + j * 17) % 13 - 6) * 0.05f)
      (i.toLong, v, 0)
    }
    val origCenters = Array.tabulate(8)(c => Array.tabulate(dim)(j =>
      if (j == 2 * c) 10f else if (j == 2 * c + 1) 4f else 0f))
    // drifted clusters sit midway between adjacent original centers, so the
    // ORIGINAL centroids split each drifted cluster across two cells —
    // probe-1 queries then miss the half assigned to the other cell
    val driftCenters = Array.tabulate(8)(c => Array.tabulate(dim)(j =>
      (if (j == 2 * c) 5f else 0f) + (if (j == 2 * ((c + 1) % 8)) 5f else 0f)))
    val orig = (0 until 240).map(i => mk(i, origCenters(i % 8)))
    val drift = (240 until 480).map(i => mk(i, driftCenters(i % 8)))
    val idx = java.nio.file.Files.createTempDirectory("retrainidx").toString
    graft.operators.Similarity.buildIvfIndex(
      orig.toDF("vec_id", "embedding", "label"), idx, graft.operators.Similarity.KmeansCells(8, 5))
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val q = graft.streaming.VectorStreams.vectorIngest(
      mem.toDF.toDF("vec_id", "embedding", "label"), idx)
    try { mem.addData(drift); q.processAllAvailable() } finally q.stop()

    // ground truth: exact cosine top-5 over the full corpus, driver-side
    val corpus = (orig ++ drift).map { case (id, v, _) => (id, v.map(_.toDouble)) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val queries = drift.take(16)
    val exact = queries.map { case (qid, qv, _) =>
      val qd = qv.map(_.toDouble)
      qid -> corpus.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qd, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
    def recallNow(): Double = {
      val approx = graft.operators.Similarity.ivfTopKIndexed(
          spark, idx, graft.operators.Similarity.KmeansCells(),
          queries.toDF("vec_id", "embedding", "label"), 5, nprobe = 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      queries.map { case (qid, _, _) =>
        (exact(qid) intersect approx.getOrElse(qid, Set.empty)).size / 5.0
      }.sum / queries.size
    }
    val before = recallNow()
    graft.streaming.VectorStreams.retrainIndex(spark, idx, kCells = 16, iters = 5)
    val after = recallNow()
    // the drifted fixture degrades probe-1 recall under the stale
    // quantizer; retraining on the index's own contents restores it
    assert(after >= 0.8, s"recall after retrain = $after (before $before)")
    assert(after > before, s"before=$before after=$after")
    // a Lloyd cell may drop out if it loses all members (documented trainer
    // behavior), so pin "a new, larger generation" not an exact count
    val nCent = spark.read.parquet(s"$idx/centroids").count()
    assert(nCent > 8 && nCent <= 16, s"nCent=$nCent")
    // index contents unchanged by the swap — same vec_ids, re-celled
    assert(graft.operators.Similarity.cellsTable(spark, idx)
      .select("vec_id").distinct().count() == 480)
  }

  test("session_window stream: gap merges within, splits across") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF.toDF("ts", "user_id")
      .select(lit(0L).as("event_id"), col("ts"), col("user_id"),
        lit("a").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
    val q = EventStreams.sessionWindows(df, gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sw_out").start()
    try {
      // user 7: events 0 and 10 min (one session); then 60 min (new session)
      mem.addData((ts(0), 7L), (ts(10), 7L), (ts(60), 7L))
      q.processAllAvailable()
      // push watermark far forward so both sessions close and emit
      mem.addData((ts(600), 8L))
      q.processAllAvailable()
      val out = spark.table("sw_out").filter(col("user_id") === 7L)
        .orderBy("w_start")
        .select("n_events").as[Long].collect().toSeq
      assert(out == Seq(2L, 1L))
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to in-window views") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def evDF(mem: MemoryStream[(Long, java.sql.Timestamp, Long)]) =
      mem.toDF.toDF("event_id", "ts", "user_id")
        .select(col("event_id"), col("ts"), col("user_id"),
          lit("x").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
    val pm = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val vm = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = EventStreams.attributionJoin(evDF(pm), evDF(vm))
      .writeStream.outputMode("append").format("memory").queryName("attr_out").start()
    try {
      // user 7: views at t=0 and t=-90min(out of window); purchase at t=30
      vm.addData((100L, ts(0), 7L), (101L, ts(-90), 7L))
      pm.addData((200L, ts(30), 7L))
      q.processAllAvailable()
      val out = spark.table("attr_out")
        .select("p_id", "view_id").as[(Long, Long)].collect().toSeq
      assert(out == Seq((200L, 100L))) // only the in-window view matches
    } finally q.stop()
  }

  test("left-outer interval join: unmatched purchase emits null-padded AFTER watermark expiry") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def evDF(mem: MemoryStream[(Long, java.sql.Timestamp, Long)]) =
      mem.toDF.toDF("event_id", "ts", "user_id")
        .select(col("event_id"), col("ts"), col("user_id"),
          lit("x").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
    val pm = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val vm = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = EventStreams.attributionJoinLeftOuter(evDF(pm), evDF(vm))
      .writeStream.outputMode("append").format("memory").queryName("attr_lo_out").start()
    try {
      // user 7's purchase has an in-window view → emits matched promptly;
      // user 9's purchase has NO view — it must NOT emit null-padded yet
      // (a matching view could still arrive within the watermark)
      vm.addData((100L, ts(0), 7L))
      pm.addData((200L, ts(30), 7L), (201L, ts(30), 9L))
      q.processAllAvailable()
      val early = spark.table("attr_lo_out")
        .select("p_id", "view_id").as[(Long, Option[Long])].collect().toSet
      assert(early == Set((200L, Some(100L)))) // no premature null row
      // advance both sides' watermarks past purchase-ts + interval: the
      // unmatched row's fate is now provable → null-padded emission
      vm.addData((101L, ts(200), 50L))
      pm.addData((202L, ts(200), 50L))
      q.processAllAvailable()
      vm.addData((102L, ts(201), 50L))
      pm.addData((203L, ts(201), 50L))
      q.processAllAvailable()
      val rows = spark.table("attr_lo_out")
        .select("p_id", "view_id").as[(Long, Option[Long])].collect().toSet
      assert(rows.contains((201L, None)), s"unmatched purchase never emitted: $rows")
    } finally q.stop()
  }

  test("streaming funnel: strict order across batches, one emission per completer") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    val steps = Seq("signup", "view", "click", "purchase")
    val q = EventStreams.funnelCompletions(mem.toDS(), steps)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try {
      // user 7 starts in order; user 9's view precedes signup (stalls at
      // stage 'view' forever — its click can never satisfy the view step)
      mem.addData(
        EventStreams.Ev(1L, ts(1), 7L, "signup", 1.0),
        EventStreams.Ev(2L, ts(2), 7L, "view", 1.0),
        EventStreams.Ev(3L, ts(1), 9L, "view", 1.0),
        EventStreams.Ev(4L, ts(2), 9L, "signup", 1.0))
      q.processAllAvailable()
      assert(spark.table("funnel_out").isEmpty) // nobody has completed yet
      // user 7 completes ACROSS the batch boundary; user 9 stalls
      mem.addData(
        EventStreams.Ev(5L, ts(3), 7L, "click", 1.0),
        EventStreams.Ev(6L, ts(4), 7L, "purchase", 1.0),
        EventStreams.Ev(7L, ts(3), 9L, "click", 1.0),
        EventStreams.Ev(8L, ts(4), 9L, "purchase", 1.0))
      q.processAllAvailable()
      // a second purchase must NOT re-emit user 7 (state was removed)
      mem.addData(EventStreams.Ev(9L, ts(5), 7L, "purchase", 1.0))
      q.processAllAvailable()
      val out = spark.table("funnel_out")
        .as[EventStreams.FunnelOut].collect().toSeq
      assert(out == Seq(EventStreams.FunnelOut(7L, ts(4).getTime)))
    } finally q.stop()
  }

  test("streaming funnel with conversion horizon: late transitions stall the user") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    val steps = Seq("signup", "view", "purchase")
    val q = EventStreams.funnelCompletions(mem.toDS(), steps,
      abandonMinutes = 600, withinMinutes = Some(5))
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_win_out").start()
    try {
      // user 7: every transition within 5 min — completes.
      // user 9: view arrives 30 min after signup — horizon stalls stage 2,
      // so the (in-horizon-from-view) purchase can't complete the funnel.
      mem.addData(
        EventStreams.Ev(1L, ts(0), 7L, "signup", 1.0),
        EventStreams.Ev(2L, ts(3), 7L, "view", 1.0),
        EventStreams.Ev(3L, ts(6), 7L, "purchase", 1.0),
        EventStreams.Ev(4L, ts(0), 9L, "signup", 1.0),
        EventStreams.Ev(5L, ts(30), 9L, "view", 1.0),
        EventStreams.Ev(6L, ts(33), 9L, "purchase", 1.0))
      q.processAllAvailable()
      val out = spark.table("funnel_win_out")
        .as[EventStreams.FunnelOut].collect().toSeq
      assert(out == Seq(EventStreams.FunnelOut(7L, ts(6).getTime)))
    } finally q.stop()
  }

  test("event-time funnel: steps reordered ACROSS batches still complete") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    val steps = Seq("signup", "view", "click")
    val q = EventStreams.funnelCompletionsEventTime(mem.toDS(), steps,
      abandonMinutes = 600)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_et_out").start()
    try {
      // the exact caveat scenario of the plain twin: user 7's click
      // arrives in an EARLIER batch than its preceding view — both within
      // the 10-min watermark. The plain operator stalls this user forever;
      // the buffering operator must sequence by event time and complete.
      mem.addData(
        EventStreams.Ev(1L, ts(0), 7L, "signup", 1.0),
        EventStreams.Ev(2L, ts(4), 7L, "click", 1.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Ev(3L, ts(2), 7L, "view", 1.0)) // out of order
      q.processAllAvailable()
      assert(spark.table("funnel_et_out").isEmpty) // watermark hasn't passed yet
      // advance the watermark beyond the click (wm = max ts - 10 min):
      // two dummy-user batches, because batch N's watermark uses data
      // through batch N-1
      mem.addData(EventStreams.Ev(90L, ts(30), 99L, "signup", 1.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Ev(91L, ts(31), 99L, "signup", 1.0))
      q.processAllAvailable()
      val out = spark.table("funnel_et_out")
        .as[EventStreams.FunnelOut].collect().toSeq
      assert(out == Seq(EventStreams.FunnelOut(7L, ts(4).getTime)))
      // sanity: the PLAIN twin stalls on the same sequence (documented
      // caveat — this is why the buffering twin exists)
    } finally q.stop()
  }

  test("event-time funnel: spam-bounded buffer keeps first-touch semantics; drop-latest is the documented miss") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    val steps = Seq("signup", "view", "click")
    // a tiny cap so the bound is exercised with a handful of events
    val q = EventStreams.funnelCompletionsEventTime(mem.toDS(), steps,
      abandonMinutes = 600, maxBuffered = 5)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_cap_out").start()
    try {
      // initialize the watermark before the interesting users arrive
      mem.addData(EventStreams.Ev(900L, ts(0), 99L, "signup", 1.0))
      q.processAllAvailable()
      // user 7 spams 8 extra clicks behind its funnel (11 buffered > cap 5):
      // the cap keeps the EARLIEST five — which include the true first-touch
      // chain (signup ts20, view ts30, click ts40) — so completion survives.
      // user 9 buries its ONLY click under 6 earlier views: the cap keeps
      // the earliest five, the click is dropped, and the user cannot
      // complete even after the watermark passes — the documented
      // drop-latest miss for spamming users.
      val spam7 = (0 until 8).map(i =>
        EventStreams.Ev(30L + i, ts(41 + i), 7L, "click", 1.0))
      val views9 = (0 until 6).map(i =>
        EventStreams.Ev(50L + i, ts(21 + i), 9L, "view", 1.0))
      mem.addData(Seq(
        EventStreams.Ev(1L, ts(20), 7L, "signup", 1.0),
        EventStreams.Ev(2L, ts(30), 7L, "view", 1.0),
        EventStreams.Ev(3L, ts(40), 7L, "click", 1.0),
        EventStreams.Ev(40L, ts(20), 9L, "signup", 1.0),
        EventStreams.Ev(41L, ts(50), 9L, "click", 1.0)) ++ spam7 ++ views9: _*)
      q.processAllAvailable()
      // advance the watermark past every buffered event
      mem.addData(EventStreams.Ev(901L, ts(100), 99L, "signup", 1.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Ev(902L, ts(101), 99L, "signup", 1.0))
      q.processAllAvailable()
      val out = spark.table("funnel_cap_out")
        .as[EventStreams.FunnelOut].collect().toSeq
      assert(out == Seq(EventStreams.FunnelOut(7L, ts(40).getTime)))
    } finally q.stop()
  }

  test("event-time funnel: buffer beyond the abandonment deadline is purged (stalled/garbage-clock user)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // identical event sequences; only the deadline differs — the tight
    // deadline purges the far-future buffer, the loose one completes
    def run(abandonMin: Int, name: String): Seq[EventStreams.FunnelOut] = {
      val mem = MemoryStream[EventStreams.Ev]
      val q = EventStreams.funnelCompletionsEventTime(mem.toDS(),
        Seq("signup", "view", "click"), abandonMinutes = abandonMin)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        mem.addData(EventStreams.Ev(900L, ts(0), 99L, "signup", 1.0))
        q.processAllAvailable() // watermark initialized below ts(0)
        // user 7's whole funnel sits ~200 min ahead of the watermark —
        // more than a tight abandonMinutes, less than a loose one
        mem.addData(
          EventStreams.Ev(1L, ts(200), 7L, "signup", 1.0),
          EventStreams.Ev(2L, ts(201), 7L, "view", 1.0),
          EventStreams.Ev(3L, ts(202), 7L, "click", 1.0))
        q.processAllAvailable()
        // deadline fires here (watermark jumped to ts(192), still short of
        // the buffer): tight config purges user 7, loose config re-arms
        mem.addData(EventStreams.Ev(901L, ts(1), 99L, "signup", 1.0))
        q.processAllAvailable()
        // now the watermark passes the buffer — only a surviving user
        // can complete
        mem.addData(EventStreams.Ev(902L, ts(300), 99L, "signup", 1.0))
        q.processAllAvailable()
        mem.addData(EventStreams.Ev(903L, ts(301), 99L, "signup", 1.0))
        q.processAllAvailable()
        spark.table(name).as[EventStreams.FunnelOut].collect().toSeq
      } finally q.stop()
    }
    assert(run(20, "funnel_purge_out").isEmpty) // purged at the deadline
    assert(run(600, "funnel_keep_out") ==
      Seq(EventStreams.FunnelOut(7L, ts(202).getTime))) // same data, loose deadline
  }

  test("event-time sessionization: reordered across batches matches the batch operator") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    val q = EventStreams.sessionsEventTime(mem.toDS(), gapMinutes = 30,
      stallMinutes = 600)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_et_out").start()
    try {
      // user 7: two sessions (ts 0+2, ts 60+62) with each session's events
      // delivered OUT OF ORDER across batches — reordered WITHIN the
      // 10-min watermark delay (Spark's late-row filter drops anything
      // older than the watermark before it reaches the operator; the
      // buffering twin fixes reordering inside the horizon, not beyond
      // it). The plain sessionizer would mis-split/mis-number these; the
      // buffering twin must reproduce the batch result exactly.
      mem.addData(EventStreams.Ev(2L, ts(2), 7L, "a", 1.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Ev(1L, ts(0), 7L, "a", 1.0)) // out of order
      q.processAllAvailable()
      mem.addData(EventStreams.Ev(4L, ts(62), 7L, "a", 1.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Ev(3L, ts(60), 7L, "a", 1.0)) // out of order
      q.processAllAvailable()
      // push the watermark past session 2's close (ts(62) + gap)
      mem.addData(EventStreams.Ev(900L, ts(300), 99L, "a", 1.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Ev(901L, ts(301), 99L, "a", 1.0))
      q.processAllAvailable()
      val got = spark.table("sess_et_out")
        .as[EventStreams.SessionOut].collect()
        .filter(_.user_id == 7L).sortBy(_.session_id).toSeq
      // the batch oracle over the same four events
      val batch = graft.operators.Sessionize.sessions(
        Seq((1L, ts(0), 7L), (2L, ts(2), 7L), (3L, ts(60), 7L), (4L, ts(62), 7L))
          .toDF("event_id", "ts", "user_id"), 30)
        .select("user_id", "session_id", "n_events", "session_start", "session_end")
        .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
        .collect().sortBy(_._2)
        .map(r => EventStreams.SessionOut(r._1, r._2, r._3, r._4.getTime, r._5.getTime))
        .toSeq
      assert(got == batch)
      assert(got.map(_.session_id) == Seq(1L, 2L)) // numbering in event-time order
    } finally q.stop()
  }

  test("event-time sessionization: stalled buffer is purged at the stall deadline") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    // stallMinutes BELOW the 10-min watermark delay, so a buffered event
    // the watermark sits just short of trips the deadline (the stalled-
    // source wedge; production sets stallMinutes well above the delay)
    val q = EventStreams.sessionsEventTime(mem.toDS(), gapMinutes = 30,
      stallMinutes = 5)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_stall_out").start()
    try {
      mem.addData(EventStreams.Ev(900L, ts(0), 99L, "a", 1.0))
      q.processAllAvailable() // watermark initialized
      mem.addData(EventStreams.Ev(1L, ts(100), 7L, "a", 1.0))
      q.processAllAvailable() // buffered; deadline armed at wm + 5 min
      // watermark advanced (to ts(90)) but not into the buffer → the stall
      // deadline fires and purges user 7, buffer included
      mem.addData(EventStreams.Ev(901L, ts(1), 99L, "a", 1.0))
      q.processAllAvailable()
      // watermark passes ts(100) + gap: a surviving user would now emit
      mem.addData(EventStreams.Ev(902L, ts(200), 99L, "a", 1.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Ev(903L, ts(201), 99L, "a", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_stall_out")
        .as[EventStreams.SessionOut].collect().filter(_.user_id == 7L).toSeq
      assert(rows.isEmpty, s"stalled user's session should have been purged: $rows")
    } finally q.stop()
  }

  test("stateful sessionization emits closed sessions across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    val sessions = EventStreams.sessions(mem.toDS(), gapMinutes = 30)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      mem.addData(
        EventStreams.Ev(1L, ts(0), 7L, "a", 1.0),
        EventStreams.Ev(2L, ts(10), 7L, "a", 1.0))
      q.processAllAvailable()
      // 40-min gap closes session 1
      mem.addData(EventStreams.Ev(3L, ts(50), 7L, "a", 1.0))
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .as[EventStreams.SessionOut].collect().toSeq
      assert(out == Seq(EventStreams.SessionOut(7L, 1L, 2L,
        ts(0).getTime, ts(10).getTime)))
      // user 7 goes silent; another user's events push the watermark far
      // past lastMs + gap → event-time timeout closes the open session
      mem.addData(EventStreams.Ev(4L, ts(1000), 9L, "a", 1.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Ev(5L, ts(2000), 9L, "a", 1.0))
      q.processAllAvailable()
      val out2 = spark.table("sess_out")
        .as[EventStreams.SessionOut].collect().toSeq
      assert(out2.contains(EventStreams.SessionOut(7L, 2L, 1L,
        ts(50).getTime, ts(50).getTime)))
    } finally q.stop()
  }

  test("event-time streaming linear attribution: out-of-order touches " +
    "credited, equals the batch operator once finalized") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val mem = MemoryStream[EventStreams.Ev]
    val q = EventStreams.linearAttributionEventTime(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_out").start()
    def got() = spark.table("attr_out")
      .as[EventStreams.AttributionOut].collect().toSet
    try {
      // b1: user1 click t=10, purchase t=30 (v=6). wm after: 20
      mem.addData(EventStreams.Ev(1L, ts(10), 1L, "click", 0.0),
        EventStreams.Ev(2L, ts(30), 1L, "purchase", 6.0))
      q.processAllAvailable()
      assert(got().isEmpty, "purchase must not finalize before the watermark passes it")
      // b2: LATE click t=21 for user1 (after its purchase in arrival
      // order, before it in event time) + user2 click t=120 pushing the
      // watermark to 110 — processAllAvailable runs the follow-up batch
      // where user1's timeout fires under the new watermark, so the
      // purchase finalizes HERE crediting both clicks incl. the
      // out-of-order one
      mem.addData(EventStreams.Ev(3L, ts(21), 1L, "click", 0.0),
        EventStreams.Ev(4L, ts(120), 2L, "click", 0.0))
      q.processAllAvailable()
      assert(got() == Set(
        EventStreams.AttributionOut(2L, 1L, 1L, 2L, 3.0),
        EventStreams.AttributionOut(2L, 3L, 1L, 2L, 3.0)))
      // b3: user2's purchase t=125 + a click at t=300 pushing wm to 290 —
      // the follow-up batch finalizes it (1 touch, full credit) and
      // user4's zero-touch purchase finalizes silently
      mem.addData(EventStreams.Ev(5L, ts(125), 2L, "purchase", 4.0),
        EventStreams.Ev(6L, ts(300), 3L, "click", 0.0),
        EventStreams.Ev(7L, ts(200), 4L, "purchase", 9.9))
      q.processAllAvailable()
      assert(got() == Set(
        EventStreams.AttributionOut(2L, 1L, 1L, 2L, 3.0),
        EventStreams.AttributionOut(2L, 3L, 1L, 2L, 3.0),
        EventStreams.AttributionOut(5L, 4L, 2L, 1L, 4.0)))
      // b4: idempotence under further watermark advance — nothing re-emits
      mem.addData(EventStreams.Ev(8L, ts(350), 3L, "click", 0.0))
      q.processAllAvailable()
      assert(got().size == 3)
      // the finalized stream equals the batch operator over the full data
      val all = Seq(
        (1L, ts(10), 1L, "click", 0.0), (2L, ts(30), 1L, "purchase", 6.0),
        (3L, ts(21), 1L, "click", 0.0), (4L, ts(120), 2L, "click", 0.0),
        (5L, ts(125), 2L, "purchase", 4.0), (6L, ts(300), 3L, "click", 0.0),
        (7L, ts(200), 4L, "purchase", 9.9), (8L, ts(350), 3L, "click", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = graft.operators.Attribution.linear(all)
        .select(col("conv_event_id"), col("touch_event_id"), col("user_id"),
          col("n_touches"), col("credit"))
        .as[EventStreams.AttributionOut].collect().toSet
      assert(got() == batch)
    } finally q.stop()
  }

  test("streaming novelty profile equals the batch operator at every " +
    "micro-batch prefix") {
    // The kmvStream discipline for the round-12 batch operator that
    // lacked a streaming sibling: accumulate noveltyFlagsStream's
    // per-(doc, gram) seen flags through a memory sink, roll each
    // prefix up with noveltyProfile, and pin equality against
    // TextAnalysis.shingleNovelty (the oracle-gated text_novelty_profile
    // shape) over the same prefix corpus after EVERY micro-batch. The
    // fixture plants the interesting regimes: an exact re-post (full
    // seen), a half-template doc (partial), cross-BATCH reuse, and
    // reuse WITHIN one micro-batch (the intra-batch doc_id-order fold).
    import spark.implicits._
    import graft.operators.{Dedup, TextAnalysis}
    implicit val sc = spark.sqlContext
    def ws(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val base = ws("alpha", 12)
    val tmpl = ws("tmpl", 8)
    val docs = Seq(
      1L -> s"$base end marker here",
      2L -> ws("beta", 10),
      3L -> s"$base end marker here",          // exact re-post of doc 1
      4L -> s"$tmpl ${ws("gamma", 6)}",        // template half
      5L -> s"$tmpl ${ws("delta", 6)}",        // same-batch template reuse
      6L -> ws("epsilon", 9),
      7L -> s"${ws("beta", 10)} extra tail")   // cross-batch partial reuse
    val batches = Seq(Seq(0, 1), Seq(2, 3, 4), Seq(5, 6)).map(_.map(docs))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStreams.noveltyFlagsStream(
        mem.toDF.toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("novel_flags").start()
    try {
      var prefix = Seq.empty[(Long, String)]
      batches.zipWithIndex.foreach { case (bdocs, i) =>
        mem.addData(bdocs: _*)
        q.processAllAvailable()
        prefix = prefix ++ bdocs
        val shk = Dedup.shingles(prefix.toDF("doc_id", "text"))
          .select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
        val want = TextAnalysis.shingleNovelty(shk)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
        val got = graft.streaming.DocStreams.noveltyProfile(
            spark.table("novel_flags"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
        assert(got == want, s"after micro-batch $i")
        assert(got.nonEmpty)
      }
      // the planted regimes actually occurred: re-post fully seen,
      // same-batch template reuse partially seen
      val byDoc = graft.streaming.DocStreams.noveltyProfile(
          spark.table("novel_flags"))
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(byDoc(3L) == 1.0, "exact re-post must be fully seen")
      assert(byDoc(5L) > 0.0 && byDoc(5L) < 1.0, "same-batch template reuse partial")
      assert(byDoc(2L) == 0.0, "first arrival is fully novel")
    } finally q.stop()
  }

  test("streaming curation equals the batch curate operator at every " +
    "micro-batch prefix") {
    // The kmvStream discipline applied to the widest-surface twin: after
    // EVERY micro-batch, the stream's accumulated kept set must equal the
    // independent batch operator (Curation.curate — the text_curate plan,
    // which IS oracle-pinned to DuckDB) run over the prefix corpus, with
    // the near-dup pairs derived by the same band-collision + signature-
    // agreement rule the stream uses. Docs arrive in doc_id order and the
    // fixture has no dup CHAINS, the regime where greedy first-arrival
    // (stream) and cluster-keep-min (batch) provably coincide.
    import spark.implicits._
    import graft.operators.{Curation, Dedup, TextAnalysis}
    implicit val sc = spark.sqlContext
    def ws(prefix: String, n: Int) = (0 until n)
      .map(i => s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val stop = Seq("the", "and", "of")
    val span = ws("s", 6)
    val evalSpan = ws("ev", 12)
    val a = (stop ++ ws("w", 32)).mkString(" ")
    val aDup = a.split(" ").dropRight(1).mkString(" ") + " zzz"
    val b = "short text only"
    val c = (stop ++ ws("c", 20) ++ evalSpan).mkString(" ")
    val d = (stop ++ ws("d", 32)).mkString(" ")
    val e = (stop ++ ws("e", 21) ++ span ++ ws("m", 3) ++ span).mkString(" ")
    val f = (Seq("and", "the", "of") ++ ws("f", 32)).mkString(" ")
    val g = (stop ++ ws("g", 32)).mkString(" ")
    val evalDoc = (0L, evalSpan.mkString(" ")) // doc_id < evalMax → eval set
    val lm = TextAnalysis.bigramLm(
      Seq((100L, a), (101L, c), (102L, d), (103L, e), (104L, g))
        .toDF("doc_id", "text")).localCheckpoint()
    val bench = Dedup.shingles(Seq(evalDoc).toDF("doc_id", "text"))
      .localCheckpoint()

    // pairs among the quality survivors by the stream's own criterion:
    // band-bucket collision, then signature agreement >= 0.5 of 12
    def agreePairs(qdocs: org.apache.spark.sql.DataFrame) = {
      val n = 12
      val sigCols = (0 until n).map(i => s"h$i")
      val sig = Dedup.minhashSignatures(Dedup.shingles(qdocs), n, Dedup.Xx)
        .localCheckpoint()
      val bands = Dedup.bandRows(sig, 6, 2, Dedup.Xx)
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val agree = sigCols.map(cn =>
        when(col(s"a.$cn") === col(s"b.$cn"), 1).otherwise(0)).reduce(_ + _)
        .cast("double") / n
      cand.join(sig.as("a"), col("doc_a") === col("a.doc_id"))
        .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
        .filter(agree >= 0.5)
        .select("doc_a", "doc_b")
    }

    val mem = MemoryStream[(Long, String)]
    val state = java.nio.file.Files.createTempDirectory("curprefix").toString + "/sigs"
    val out = java.nio.file.Files.createTempDirectory("curprefixout").toString + "/docs"
    val q = graft.streaming.DocStreams.curateIngest(
      mem.toDF.toDF("doc_id", "text"), lm, bench, state, out, maxNll = 10.0)
    val batches = Seq(
      Seq(10L -> a, 11L -> b, 12L -> c),          // clean / too short / contaminated
      Seq(13L -> aDup, 14L -> d, 15L -> e),       // cross-batch near-dup / clean / repetitive
      Seq(16L -> f, 17L -> g))                    // unknown-bigram reject / clean
    try {
      var prefix = Seq(evalDoc)
      batches.zipWithIndex.foreach { case (bdocs, i) =>
        mem.addData(bdocs: _*)
        q.processAllAvailable()
        prefix = prefix ++ bdocs
        val docsAll = prefix.toDF("doc_id", "text").localCheckpoint()
        val sh = Dedup.shingles(docsAll).localCheckpoint()
        val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
        val qualitySurvivors = Curation
          .curate(docsAll, sh, lm, noPairs, evalMax = 10, maxNll = 10.0)
          .select("doc_id").as[Long].collect().toSet
        val pairs = agreePairs(
          docsAll.filter(col("doc_id").isin(qualitySurvivors.toSeq: _*)))
        val want = Curation
          .curate(docsAll, sh, lm, pairs, evalMax = 10, maxNll = 10.0)
          .select("doc_id").as[Long].collect().toSet
        val got = graft.streaming.DocStreams.readOutput(spark, out).get
          .select("doc_id").as[Long].collect().toSet
        assert(got == want, s"after micro-batch $i: stream kept $got, batch curate kept $want")
      }
    } finally q.stop()
  }

  test("streaming FULL curation (both decontamination gates) equals the batch composite at every prefix; replay is a no-op") {
    // The curateIngest prefix discipline widened to the text_curate_full
    // shape: the want side is Curation.curate over the prefix ANTI-JOINED
    // with the per-doc semantic contamination verdict — exactly the
    // registered composite. The planted case the n-gram gate cannot see:
    // doc 14 is textually clean (no eval shingles) but its embedding is
    // nearly the eval vector — only the cosine gate drops it.
    import spark.implicits._
    import graft.operators.{Curation, Dedup, Similarity}
    implicit val sc = spark.sqlContext
    def ws(prefix: String, n: Int) = (0 until n)
      .map(i => s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val stop = Seq("the", "and", "of")
    val evalSpan = ws("ev", 12)
    val a = (stop ++ ws("w", 32)).mkString(" ")
    val aDup = a.split(" ").dropRight(1).mkString(" ") + " zzz"
    val b = "short text only"
    val c = (stop ++ ws("c", 20) ++ evalSpan).mkString(" ")
    val d = (stop ++ ws("d", 32)).mkString(" ")
    val g = (stop ++ ws("g", 32)).mkString(" ")
    val evalDoc = (0L, evalSpan.mkString(" "))
    val lm = graft.operators.TextAnalysis.bigramLm(
      Seq((100L, a), (101L, c), (102L, d), (103L, g))
        .toDF("doc_id", "text")).localCheckpoint()
    val bench = Dedup.shingles(Seq(evalDoc).toDF("doc_id", "text"))
      .localCheckpoint()
    // eval vector [1,0,0]; far embeddings for everyone except doc 14
    val far = Array(0.0f, 1.0f, 0.0f)
    val near = Array(0.98f, 0.05f, 0.0f) // cos ≈ 0.999 vs eval
    val evalVecs = Similarity.prepared(
      Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
      .localCheckpoint()
    val tau = 0.9
    val mem = MemoryStream[(Long, String, Array[Float])]
    val state = java.nio.file.Files.createTempDirectory("curfull").toString + "/sigs"
    val out = java.nio.file.Files.createTempDirectory("curfullout").toString + "/docs"
    val q = graft.streaming.DocStreams.curateFullIngest(
      mem.toDF.toDF("doc_id", "text", "embedding"), lm, bench, evalVecs,
      state, out, maxNll = 10.0, cosThreshold = tau)
    val batches = Seq(
      Seq((10L, a, far), (11L, b, far), (12L, c, far)), // clean/short/n-gram-contam
      Seq((13L, aDup, far), (14L, d, near)),            // near-dup / SEMANTIC contam
      Seq((15L, g, far)))                               // clean
    try {
      var prefix = Vector.empty[(Long, String, Array[Float])]
      batches.zipWithIndex.foreach { case (bdocs, i) =>
        mem.addData(bdocs: _*)
        q.processAllAvailable()
        prefix = prefix ++ bdocs
        val docsAll = (Seq((evalDoc._1, evalDoc._2, far)) ++ prefix)
          .toDF("doc_id", "text", "embedding").localCheckpoint()
        val sh = Dedup.shingles(docsAll).localCheckpoint()
        // near-dup pairs by the stream's own criterion (band collision +
        // signature agreement), over the quality survivors — as in the
        // curateIngest prefix test
        val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
        val qSurv = Curation.curate(docsAll, sh, lm, noPairs,
            evalMax = 10, maxNll = 10.0)
          .select("doc_id").as[Long].collect().toSet
        val sig = Dedup.minhashSignatures(
          Dedup.shingles(docsAll.filter(col("doc_id").isin(qSurv.toSeq: _*))), 12, Dedup.Xx)
          .localCheckpoint()
        val bandsDf = Dedup.bandRows(sig, 6, 2, Dedup.Xx)
        val cand = bandsDf.as("x").join(bandsDf.as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct()
        val agree = (0 until 12).map(j =>
            when(col(s"a.h$j") === col(s"b.h$j"), 1).otherwise(0)).reduce(_ + _)
          .cast("double") / 12
        val pairs = cand.join(sig.as("a"), col("doc_a") === col("a.doc_id"))
          .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
          .filter(agree >= 0.5).select("doc_a", "doc_b")
        val semContam = Similarity.contaminationAgainst(
            Similarity.prepared(prefix
              .map(r => (r._1, r._3)).toDF("vec_id", "embedding")),
            evalVecs, tau)
          .select(col("vec_id").as("doc_id"))
        val want = Curation.curate(docsAll, sh, lm, pairs,
            evalMax = 10, maxNll = 10.0)
          .join(semContam, Seq("doc_id"), "left_anti")
          .select("doc_id").as[Long].collect().toSet
        val got = graft.streaming.DocStreams.readOutput(spark, out).get
          .select("doc_id").as[Long].collect().toSet
        assert(got == want, s"after micro-batch $i: stream kept $got, batch composite kept $want")
        if (i >= 1) assert(!got.contains(14L),
          "semantically contaminated doc must be gated despite clean text")
      }
      // crash-replay of the last micro-batch: batch-keyed overwrite of
      // identical content — output and state must not change
      val before = graft.streaming.DocStreams.readOutput(spark, out).get
        .select("doc_id").as[Long].collect().toSet
      val (novel, novelState) = graft.streaming.DocStreams.curateFullBatch(
        batches.last.toDF("doc_id", "text", "embedding"), lm, bench, evalVecs,
        state, maxNll = 10.0, cosThreshold = tau, batchId = batches.size - 1L)
      graft.operators.BatchCommit.writeBatch(novel, out, batches.size - 1L)
      graft.operators.BatchCommit.writeBatch(novelState,
        s"$state/bands", batches.size - 1L,
        partitionCols = Seq("band", "bkt"))
      val after = graft.streaming.DocStreams.readOutput(spark, out).get
        .select("doc_id").as[Long].collect().toSet
      assert(after == before)
    } finally q.stop()
  }

  test("streaming semantic decontamination equals the batch gate on every prefix; replay is a no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val evalSet = graft.operators.Similarity.prepared(emb.filter(col("vec_id") < 10))
    val corpus = emb.filter(col("vec_id") >= 10)
      .as[(Long, Array[Float], Int)].collect()
    val out = java.nio.file.Files.createTempDirectory("contamout").toString
    val tau = 0.30
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val q = graft.streaming.VectorStreams.contaminationIngest(
      mem.toDF.toDF("vec_id", "embedding", "label"), evalSet, out, tau)
    def ledger: Map[Long, Double] =
      graft.operators.BatchCommit.readCommitted(spark, out)
        .map(_.select("vec_id", "max_cos").as[(Long, Double)].collect().toMap)
        .getOrElse(Map.empty)
    try {
      val batches = corpus.grouped(math.max(1, corpus.length / 3)).toSeq
      var prefix = Vector.empty[(Long, Array[Float], Int)]
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b.toIndexedSeq)
        q.processAllAvailable()
        prefix = prefix ++ b
        // batch twin over the SAME prefix: per-vector verdicts, so the
        // ledger union must equal it exactly (values included)
        val want = graft.operators.Similarity.contaminationAgainst(
            graft.operators.Similarity.prepared(
              prefix.toDF("vec_id", "embedding", "label")), evalSet, tau)
          .as[(Long, Double)].collect().toMap
        assert(ledger == want, s"after micro-batch $i")
      }
      val before = ledger
      // crash-replay of the last micro-batch id: batch-keyed overwrite of
      // identical content — the ledger must not change
      graft.streaming.VectorStreams.contaminationBatch(
        batches.last.toIndexedSeq.toDF("vec_id", "embedding", "label"),
        evalSet, out, batchId = batches.size - 1L, tau)
      assert(ledger == before)
      assert(before.nonEmpty, "fixture should flag at least one vector at tau=0.30")
    } finally q.stop()
  }

  test("streaming incremental SemDeDup: pairs ledger equals the batch operator at every prefix; replay is a no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val old = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
      .as[(Long, Array[Float], Int)].collect()
    val state = java.nio.file.Files.createTempDirectory("semstate").toString
    val tau = 0.35
    graft.streaming.VectorStreams.buildSemanticState(old, state)
    val cent = spark.read.parquet(s"$state/centroids")
    def sideOf(df: org.apache.spark.sql.DataFrame) = {
      val p = graft.operators.Similarity.prepared(df)
      graft.operators.SemDedup.assignTo(p, cent).join(p, "vec_id")
    }
    def ledger: Set[(Long, Long, Double)] =
      graft.streaming.VectorStreams.semanticPairsLedger(spark, state)
        .map(_.select("new_vec", "old_vec", "cos")
          .as[(Long, Long, Double)].collect().toSet)
        .getOrElse(Set.empty)
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val q = graft.streaming.VectorStreams.semanticDedupIngest(
      mem.toDF.toDF("vec_id", "embedding", "label"), state, tau)
    try {
      val batches = rest.grouped(math.max(1, rest.length / 2)).toSeq
      var ingested = old
      var want = Set.empty[(Long, Long, Double)]
      batches.foreach { b =>
        val bDf = b.toIndexedSeq.toDF("vec_id", "embedding", "label")
        // expected: this batch against everything ingested BEFORE it,
        // through the same fixed centroids (the batch operator's core)
        want = want ++ graft.operators.SemDedup.incrementalPairsFrom(
            sideOf(ingested), graft.operators.Similarity.prepared(bDf), cent, tau)
          .select("new_vec", "old_vec", "cos")
          .as[(Long, Long, Double)].collect().toSet
        mem.addData(b.toIndexedSeq)
        q.processAllAvailable()
        assert(ledger == want)
        ingested = ingested.unionByName(bDf)
      }
      assert(want.nonEmpty, "fixture should produce at least one incremental pair")
      // crash-replay of the last batch id: prior state excludes the
      // batch's own dir, so identical pairs are rewritten — ledger unchanged
      graft.streaming.VectorStreams.semanticIngestBatch(
        batches.last.toIndexedSeq.toDF("vec_id", "embedding", "label"),
        state, batches.size - 1L, tau)
      assert(ledger == want)
    } finally q.stop()
  }

  test("incremental SemDeDup: a seed that crashes after the centroids write fails the ingest loudly") {
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val state = java.nio.file.Files.createTempDirectory("semcrash").toString
    // the corpus turns unreadable once the seed has committed its first
    // table (a _SUCCESS anywhere under the state dir): the seed crashes
    // right after its centroids write
    val stateRoot = new java.io.File(state)
    val readable = udf { (_: Long) =>
      val it = java.nio.file.Files.walk(stateRoot.toPath)
      try if (it.anyMatch(_.getFileName.toString == "_SUCCESS"))
        throw new IllegalStateException("seed crashed after its first table")
      finally it.close()
      true
    }.asNondeterministic()
    val old = emb.filter(col("vec_id") % 2 === 0)
    intercept[Exception](graft.streaming.VectorStreams.buildSemanticState(
      old.filter(readable(col("vec_id"))), state))
    // the ingest must refuse the half-seeded state instead of pairing the
    // batch against an empty corpus side
    val batch = emb.filter(col("vec_id") % 2 === 1)
    intercept[IllegalStateException](
      graft.streaming.VectorStreams.semanticIngestBatch(batch, state, 0L, 0.35))
    // recovery drops the half-written seed; a clean re-seed ingests
    graft.operators.DirSwap.recover(state)
    graft.streaming.VectorStreams.buildSemanticState(old, state)
    graft.streaming.VectorStreams.semanticIngestBatch(batch, state, 0L, 0.35)
    assert(graft.operators.BatchCommit.committedBatchDirs(spark, s"$state/cells")
      .exists(_.endsWith("batch=0")))
  }

  test("streaming crawl dedup: the latest-fetch max-struct is COMMUTATIVE, " +
    "so winners are arrival-order-independent (unlike first-wins dedup)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.sources.Warc
    val ids = spark.range(60L).select(org.apache.spark.sql.functions.col("id")
      .as("doc_id"))
    val all = Warc.streamRecords(ids).as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val blobs = mem.toDF.toDF("doc_id", "blob")
    // the BATCH operator applied unchanged to the unbounded frame:
    // parseStream is stateless row-local, the dedup agg carries one
    // narrow (wdate, doc_id) struct per canonical url as state
    val q = Warc.dedupLatest(Warc.parseStream(blobs))
      .writeStream.outputMode("complete")
      .format("memory").queryName("crawl_latest").start()
    try {
      // adversarial arrival: REVERSE doc order, split by doc_id % 3 —
      // every later-fetch/earlier-fetch pair of the same url is
      // arbitrarily ordered across micro-batches
      (0 to 2).foreach { b =>
        mem.addData(all.filter(_._1 % 3 == b).sortBy(-_._1).toSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.table("crawl_latest")
        .as[(String, Long, String)].collect().toSet
      val want = Warc.dedupLatest(Warc.parseStream(
          all.toSeq.toDF("doc_id", "blob")))
        .as[(String, Long, String)].collect().toSet
      assert(got == want, "streamed winners == batch winners, any order")
      assert(got.nonEmpty)
    } finally q.stop()
  }
}
