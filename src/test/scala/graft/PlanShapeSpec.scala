package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the perf-critical plan shapes asserted
  * as explicitly as correctness. A future edit that silently turns a
  * broadcast join into a shuffle, a top-k into a global sort, or a hash
  * aggregate into a sort aggregate fails here, not in a 100 TB run.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val d = TestSpark.sf001

  def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, d)
    // formatted mode prints scan detail (PushedFilters et al.) unelided
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("batch ANN routing: plan CONSTRUCTION runs zero Spark jobs (no driver collects)") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf0001)
    val q = emb.filter(col("vec_id") < 10)
    // training is a per-corpus index build and MAY collect (it happens
    // before the listener) — the claim under test is that query ROUTING
    // is a pure plan transformation
    val p = graft.operators.Similarity.prepared(emb)
    val cbs = graft.operators.Similarity.pqCodebooks(p.select("vec_id", "e"), 8, 16, 5)
    val cbDf = graft.operators.Similarity.pqCodebooksToDf(spark, cbs)
    val codes = graft.operators.Similarity.pqEncode(p.select("vec_id", "e"), cbs)
      .join(p.select("vec_id", "nrm"), "vec_id")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val ivfPlan = graft.operators.Similarity.ivfTopKBatch(emb, q, 5, nprobe = 2)
      val pqPlan = graft.operators.Similarity.knnPqBatchFromCodes(emb, q, codes, cbDf)
      // listener events deliver asynchronously — a blocking collect inside
      // construction would have posted its JobStart well within this grace
      Thread.sleep(1000)
      assert(jobs == 0,
        s"batch ANN plan construction submitted $jobs Spark job(s) — a driver collect leaked in")
      // and the batch plans are real: they execute to full k per query
      assert(ivfPlan.count() == 50L)
      assert(pqPlan.count() == 50L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("knn_ivfpq: ADC stage is an equi-join on the probed cell — no nested loop anywhere") {
    // the composition's whole point vs knn_pq(_batch): cell routing turns
    // the ADC cross-product into a cell equi-join, so THIS ANN tier has
    // bounded candidates AND zero nested-loop joins
    val p = plan("knn_ivfpq")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "IVF-PQ plan regressed to a nested loop")
    // the un-routed PQ tier keeps its (broadcast) cross-scoring by design
    assert(plan("knn_pq_batch").contains("BroadcastNestedLoopJoin"))
  }

  test("q1_agg: filter pushed to parquet scan, partial+final hash agg") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortAggregate"))
  }

  test("q_join_broadcast / q_join_multi: dims broadcast, never shuffled") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
    val multi = plan("q_join_multi")
    // formatted explain lists each node in tree + detail → 2 hits per join
    assert("BroadcastHashJoin".r.findAllIn(multi).size >= 4)
    assert(!multi.contains("SortMergeJoin"))
  }

  test("q_topk_orders: TakeOrderedAndProject, no global sort") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("search_topk: top-k via TakeOrderedAndProject, query side broadcast") {
    // the query's side tables — its vocabulary rows and docinfo — join the
    // postings as broadcasts; qtf is a literal, not a table
    val p = plan("search_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
    // df comes from an aggregate broadcast, never a word-partitioned
    // count window (a stopword key would straggle at corpus scale)
    assert(!p.contains("Window"), "df must not ride a window")
  }

  test("search_topk runtime plan: corpus tokenized ONCE (shared post subtree cut)") {
    // On the metadata-scale path Search.indexOf pins the scan to
    // SinglePartition and CUTS the term frame (graftglue.cut, lazy):
    // plan construction cuts exactly one frame, holding the one tokenize
    // (term_counts), and the runtime plan reads the materialized partition
    // (Scan ExistingRDD) with no tokenize of its own — BM25's document
    // lengths included. The corpus parquet may appear at most once more.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        events.add(f -> qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def count(re: String, s: String) = re.r.findAllIn(s).size
    for (name <- Seq("search_topk", "search_topk_bm25")) {
      events.clear()
      spark.listenerManager.register(listener)
      val df = try {
        val df = SparkEntry.queries(name)(spark, d)
        // events arrive in order: once this marker's arrives, the cuts' have
        spark.range(1).collect()
        val deadline = System.nanoTime() + 30000000000L
        while (!events.asScala.exists(_._1 == "collect") && System.nanoTime() < deadline)
          Thread.sleep(50)
        df
      } finally spark.listenerManager.unregister(listener)
      val cuts = events.asScala.collect { case ("cut", p) => p }.toSeq
      assert(cuts.length == 1, s"$name: ${cuts.length} frames cut, expected the one term frame")
      assert(count("term_counts", cuts.head) == 1, s"$name: the cut frame must hold ONE tokenize")
      assert(count("Generate explode", cuts.head) == 0, s"$name: the cut frame re-tokenizes")
      df.collect()
      val whole = df.queryExecution.executedPlan.toString
      assert(whole.contains("isFinalPlan=true"))
      val fin = whole.indexOf("== Initial Plan ==") match {
        case -1 => whole
        case i => whole.substring(0, i)
      }
      assert(count("Generate explode", fin) == 0 && count("term_counts", fin) == 0,
        s"$name: runtime plan re-tokenizes — the term frame cut was lost")
      assert(fin.contains("Scan ExistingRDD"), s"$name: must read the cut term frame")
      assert(count("FileScan parquet", fin) <= 1, s"$name: extra corpus scans")
    }
  }

  test("dedup_minhash_lsh: all aggregates are hash aggregates") {
    assert(!plan("dedup_minhash_lsh").contains("SortAggregate"))
  }

  test("LSH pair plans: equi-join candidates only, never a nested loop") {
    for (name <- Seq("dedup_minhash_lsh", "dedup_minhash_fast")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"), name)
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("round-15 pair plans: spectral pigeonhole, natural-corpus tiers, salted cells — all equi-joins") {
    for (name <- Seq("multimodal_audio_neardup_spectral",
        "dedup_natural2_lsh", "dedup_natural2_winnow")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"), name)
      assert(!p.contains("CartesianProduct"), name)
    }
    // the triangle-salt decomposition too: every covered bucket pair is
    // one equi-join key, never a replicated cross
    val emb = graft.sources.Tables.embeddings(spark, d)
    val sp = graft.operators.SemDedup.pairsSalted(emb, 0.3, salt = 8)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!sp.contains("BroadcastNestedLoopJoin") && !sp.contains("CartesianProduct"))
  }

  test("dedup_embedding: hyperplane-LSH blocking plans as an equi-join") {
    val p = plan("dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("knn_lsh: bucket candidates via broadcast equi-join, no nested loop, window top-k pruned") {
    val p = plan("knn_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin")) // query band rows broadcast into the sketch
    assert(p.contains("WindowGroupLimit"))  // per-query top-k prunes before the rank filter
  }

  test("dedup_simhash_pairs: pigeonhole banding plans as an equi-join") {
    val p = plan("dedup_simhash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_bucketed_join: co-located scans, zero hash-partition exchanges") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"))
    assert(p.contains("Bucketed: true"))
    // join AND same-key aggregate both ride the bucket layout — the only
    // exchange left is the final presentation sort
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("knn_ivf_kmeans_indexed: cells scan partition-pruned to probed cells") {
    val df = SparkEntry.queries("knn_ivf_kmeans_indexed")(spark, d)
    val scans = df.queryExecution.executedPlan.toString
    assert(scans.contains("PartitionFilters: [cell"))
  }

  test("knn_ivf_indexed: single label-pruned cells scan, no unpruned join-back") {
    val df = SparkEntry.queries("knn_ivf_indexed")(spark, d)
    val scans = df.queryExecution.executedPlan.toString
    assert(scans.contains("PartitionFilters: [cell"))
    // the regression shape was a SECOND, unpruned cells scan reading just
    // (vec_id, cell) joined back to recover the partition column; its
    // scan signature must not reappear (all other scans read embeddings
    // or centroid columns)
    assert("FileScan parquet \\[vec_id#\\d+,\\s*cell#\\d+\\]".r
      .findFirstIn(scans).isEmpty, "unpruned (vec_id,cell) cells scan")
  }

  test("knn_pq: ADC stage scans the code table, vectors only in the re-rank") {
    val p = plan("knn_pq")
    // the shortlist (ADC) scan reads codes+nrm — the embedding column must
    // appear ONLY in the re-rank/query-side scans, never in the stage-1
    // corpus scan (scanning vectors there would defeat PQ's purpose)
    val codeScan = p.split("\\(\\d+\\) Scan parquet").find(_.contains("codes:array"))
    assert(codeScan.isDefined, "no code-table scan in the plan")
    assert(!codeScan.get.split("\n").exists(l =>
      l.contains("ReadSchema") && l.contains("embedding")),
      "stage-1 code scan reads the embedding column")
    // shortlist selection is a pruned window top-k, not a global sort
    assert(p.contains("WindowGroupLimit"))
  }

  test("knn_brute: window top-k pruned by WindowGroupLimit") {
    assert(plan("knn_brute").contains("WindowGroupLimit"))
  }

  /** Each BroadcastExchange of a query's plan: the index tables it reads
    * (the scanned dir's name, "LocalTableScan" for a local relation), and
    * whether it broadcasts an aggregate. */
  def broadcasts(df: org.apache.spark.sql.DataFrame): Seq[(String, Boolean)] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    root.collect { case b: BroadcastExchangeExec => b }.map { b =>
      val tables = b.collectLeaves().map {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName).mkString(",")
        case _: LocalTableScanExec => "LocalTableScan"
        case o => o.nodeName
      }
      (tables.distinct.sorted.mkString("+"), b.exists(_.isInstanceOf[BaseAggregateExec]))
    }.sorted
  }

  test("search_topk_indexed: postings scan partition-pruned to query buckets") {
    val df = SparkEntry.queries("search_topk_indexed")(spark, d)
    val scans = df.queryExecution.executedPlan.toString
    assert(scans.contains("PartitionFilters: [wb"))
    // one broadcast per index table: the query's vocabulary rows and
    // docinfo; the query terms are no broadcast of a local relation
    assert(broadcasts(df) == Seq(("docinfo", false), ("vocabulary", false)))
  }

  test("search_topk_bm25_indexed: bucket-pruned postings, no corpus scan") {
    val df = SparkEntry.queries("search_topk_bm25_indexed")(spark, d)
    val scans = df.queryExecution.executedPlan.toString
    assert(scans.contains("PartitionFilters: [wb"))
    // every scan reads the index dir — the corpus parquet never appears
    // (the whole point of carrying n_tokens in docinfo)
    assert(!scans.contains("documents.parquet"),
      "indexed BM25 scanned the corpus")
    // as parity, plus the one-row N/avgdl aggregate of docinfo
    assert(broadcasts(df) == Seq(("docinfo", false), ("docinfo", true), ("vocabulary", false)))
  }

  test("text_curate: the composite stays equi-join + hash-agg end to end") {
    val p = plan("text_curate")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortAggregate"))
  }

  test("bpe_token_count: encode is a broadcast equi-join over hash aggs") {
    // construction runs the trainer (8 bounded argmax collects — the
    // trainer contract); the lock is on the ENCODE plan: the per-word
    // symbol-count side broadcasts, merges are literal replaces in a
    // narrow projection, nothing sorts or nests
    val p = plan("bpe_token_count")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortAggregate"))
  }

  test("dedup_semantic: pair stage is a cell-keyed equi self-join, never cartesian") {
    // trainer rounds run at construction (bounded k×dim collects); the
    // runtime plan is the final assignment (row-local inlined argmax over
    // literal centroids — no join, no window) plus the pair join, which
    // MUST key on cell
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("dedup_semantic_cells: assignment is a narrow projection — no window, no join") {
    // the round-10 rewrite (the round-7 k-means lesson applied to the
    // SemDeDup trainer): assignment inlines the k collected centroids as
    // literals, so the cells plan is scan → project, with NO window
    // exchange and NO join of any kind — the crossJoin+row_number form
    // shuffled the k×-exploded corpus once per Lloyd round
    val p = plan("dedup_semantic_cells")
    assert(!p.contains("Window"), "assignment regressed to the window-argmax form")
    assert(!p.toLowerCase.contains("join"), "assignment regressed to a centroid join")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_pack_bestfit: every rank window is (cls, pfx)-partitioned — no " +
    "corpus-global window; placements and offsets broadcast") {
    // the round-16 packing claim: ranks come from the 16-hex-prefix
    // decomposition, so NO window may run on a single partition — a
    // regression to a global row_number would serialize the corpus
    // through one task at 100×
    val p = plan("text_pack_bestfit")
    assert(p.contains("Window"))
    // the corpus-scale rank windows MUST be hash-partitioned on the
    // bucket keys; the ONE allowed SinglePartition is the ≤16-row
    // oversize offset window (the packAssignmentsFrom-documented
    // aggregate-sized exception)
    assert(p.contains("hashpartitioning(cls") && p.contains("hashpartitioning(pfx"),
      "the bucketed rank exchanges lost their hash partitioning")
    assert("SinglePartition".r.findAllIn(p).size <= 1,
      "a corpus-scale single-partition exchange leaked into the packing plan")
    assert(p.contains("BroadcastHashJoin"), "placement/offset joins must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_semantic_auto: the routed pair stage keeps the cell-keyed " +
    "equi-join shape (no cartesian, no nested loop)") {
    // the probe (a k-row histogram) runs at construction; whichever tier
    // the router picks must plan as an equi self-join on cell
    val p = plan("dedup_semantic_auto")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("jpeg + container-track decoders: narrow single-pass plans — no " +
    "shuffle between the media scan and the decode") {
    // decode is generate-in-place mapPartitions over the persisted media
    // scan; any Exchange before the decode means payload BYTES crossed
    // the wire
    Seq("multimodal_jpeg_meta", "multimodal_mp4_tracks", "multimodal_webm_tracks")
      .foreach { q =>
        val p = plan(q)
        assert(!p.toLowerCase.contains("join"), s"$q: decode must not join")
        // exactly the final presentation sort may exchange; the decode
        // input itself is the raw scan feeding Scan ExistingRDD
        assert(p.contains("Scan ExistingRDD"), s"$q: expected the decoded RDD scan")
      }
  }

  test("text_dsir_weights: ONE corpus pass (checkpointed cells), λ broadcast, no corpus cartesian") {
    // the single corpus gram scan happens once at construction, inside the
    // eager (doc_id, is_t, b) cell checkpoint; BOTH the λ trainer and the
    // per-doc scorer read the cells RDD back — so the runtime plan must
    // contain ZERO parquet scans (a second parquet scan = the doubled
    // corpus pass the round-9 verdict flagged creeping back in)
    val p = plan("text_dsir_weights")
    assert(!p.contains("Scan parquet"), "corpus re-scan leaked into the scoring plan")
    assert(p.contains("Scan ExistingRDD"), "expected the checkpointed cell table")
    assert(p.contains("BroadcastHashJoin"), "λ join must broadcast")
    assert(!p.contains("CartesianProduct"))
    // the only nested loop is the 1-row totals broadcast under the trainer
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_filter_project: all predicates reach the parquet reader") {
    val p = plan("q_filter_project")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("EqualTo(l_returnflag,R)") && p.contains("GreaterThan(l_quantity"))
  }

  // The locks below read the OPERATOR plans (not the registered queries,
  // whose trailing orderBy adds a benign result-sized sort for the gate).
  def opPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("phraseTopK: row-local scoring — no explode, top-k heap, doc-info broadcast") {
    val p = opPlan(graft.operators.Search.phraseTopK(spark, d))
    assert(!p.contains("Generate"), "phrase tf must not explode the bigram stream")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("labelOutliers: centroid join broadcast, no cartesian, window top-k pruned") {
    val p = opPlan(graft.operators.Similarity.labelOutliers(
      graft.sources.Tables.embeddings(spark, d), 5))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"), "bottom-k must prune per partition")
  }

  test("epochShuffle / packAssignments: the corpus rank never global-sorts") {
    val docs = graft.sources.Tables.documents(spark, d)
    for ((name, df) <- Seq(
        "epochShuffle" -> graft.operators.Curation.epochShuffle(docs, 2),
        "packAssignments" -> graft.operators.Curation.packAssignments(docs, 500L))) {
      val p = opPlan(df)
      // the corpus-sized prefix sum runs partitioned (pfx / epoch+pfx);
      // the single-partition running-sum window exists only over the
      // ≤32-row bucket aggregate — a range exchange of the corpus would
      // mean the decomposition regressed to a global sort
      assert(!p.contains("Exchange rangepartitioning"), s"$name global-sorted the corpus")
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("text_zipf_slope: rank decomposition never global-sorts the vocabulary") {
    val docs = graft.sources.Tables.documents(spark, d)
    val p = opPlan(graft.operators.TextAnalysis.zipfSlope(docs))
    // the per-source rank must ride the (source, freq, pfx) group windows
    // + the aggregated offset table — a range exchange would mean the
    // decomposition regressed to sorting the vocabulary through one task
    assert(!p.contains("Exchange rangepartitioning"), "vocabulary global-sorted")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("events_markov: ONE corpus pass — normalizer is a window over the matrix") {
    val p = opPlan(graft.operators.Paths.markov(
      graft.sources.Tables.events(spark, d)))
    // a groupBy+join-back normalizer re-derives the corpus scan→window→agg
    // chain as a second plan branch; the matrix-window form scans once
    assert("Scan parquet".r.findAllIn(p).size <= 2, "events scanned more than once")
    assert(!p.contains("Join"), "normalizer regressed to a join-back branch")
    assert(!p.contains("Exchange rangepartitioning"), "no global sort in the matrix build")
  }

  test("text_source_overlap: distinct + equi-join only, no nested loop") {
    val p = plan("text_source_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortAggregate"))
  }

  test("text_chunk: map-only before the gate sort — no join, no agg, one exchange") {
    val p = plan("text_chunk")
    assert(!p.contains("Join"), "chunking must not join")
    assert(!p.contains("Aggregate"), "chunking must not aggregate")
    assert(!p.contains("Window"), "chunking must not window")
    // exactly the ORDER BY's range exchange and nothing else (formatted
    // mode prints each node twice — tree line and "(n) Exchange" detail
    // header — so count the detail headers)
    assert("\\) Exchange".r.findAllIn(p).size == 1, "chunking shuffled before the sort")
  }

  test("dedup_incremental: band equi-join, no nested loop, no self-join quadratic") {
    for (name <- Seq("dedup_incremental", "dedup_incremental_keep")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"), name)
      assert(!p.contains("CartesianProduct"), name)
      assert(!p.contains("SortAggregate"), name)
    }
  }

  test("q_kmv_distinct: no standalone distinct shuffle — dedup rides the two collect_set levels") {
    val p = plan("q_kmv_distinct")
    assert(!p.contains("Join"))
    // plan shape: one exchange per collect_set level plus the final
    // sort's range exchange; a regression to .distinct() adds a fourth
    // exchange moving every input row (count "(n) Exchange" headers —
    // formatted mode prints each node twice)
    assert("\\) Exchange".r.findAllIn(p).size <= 3,
      "kmv re-grew a full-row distinct exchange")
  }

  test("dedup_bloom_novel: definite-novel rows take a join-free branch; no nested loop") {
    val p = plan("dedup_bloom_novel")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // every join in the plan is the maybe-slice's exact verify — an
    // ANTI hash join against the corpus digests. If the bloom prefilter
    // regressed to routing EVERYTHING through the join, the plan's
    // join count would exceed its LeftAnti count.
    val joins = "\\) BroadcastHashJoin".r.findAllIn(p).size +
      "\\) ShuffledHashJoin".r.findAllIn(p).size +
      "\\) SortMergeJoin".r.findAllIn(p).size
    val antis = "LeftAnti".r.findAllIn(p).size
    assert(joins > 0 && antis >= joins,
      s"novelty plan grew a non-anti join: $joins joins, $antis anti")
    // round 13: the probe is Spark's native BloomFilterMightContain
    // (codegen'd, filter bytes as a plan literal) — a regression back to
    // a Scala UDF over a closure-captured bitset shows as ScalaUDF
    assert(!p.contains("ScalaUDF"), "bloom probe regressed to a Scala UDF")
    assert(p.contains("might_contain"), "native bloom probe missing from plan")
  }

  test("text_heavy_hitters: candidate semi-join broadcast; only the 1-row totals cross") {
    val p = plan("text_heavy_hitters")
    // the single BNLJ is the 1-row totals cross (the DSIR pattern); the
    // recount join against <=k candidates must be a broadcast hash join
    assert("\\) BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      "expected exactly the 1-row totals cross")
    assert(p.contains("BroadcastHashJoin"), "candidate recount must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortAggregate"))
  }

  test("text_sample_weighted: top-k heap, no global sort of the corpus") {
    val p = opPlan(graft.operators.Curation.sampleWeighted(
      graft.sources.Tables.documents(spark, d),
      org.apache.spark.sql.functions.col("n_chars"), 64))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"),
      "weighted sample regressed to a global sort")
  }

  test("events_anomaly: one moment broadcast, row-local test — no window, no second agg") {
    val p = plan("events_anomaly")
    assert(p.contains("BroadcastHashJoin"), "moment table must broadcast")
    assert(!p.contains("Window"), "the sigma test must not rank anything")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("text_mix_temperature: quota side broadcast, corpus rank stays bucket-decomposed") {
    val p = plan("text_mix_temperature")
    assert(!p.contains("CartesianProduct"))
    // quotas (≤|sources| rows) and offsets (≤16·|sources|) must both
    // reach the corpus via broadcast joins, and the corpus-sized
    // row_number must run on the 16-way (source, pfx) decomposition —
    // a Window partitioned by source alone serializes the widest
    // source through one task
    assert(p.contains("BroadcastHashJoin"))
    assert("partitionBy.{0,60}pfx".r.findFirstIn(p).isDefined ||
      p.contains("hashpartitioning(source#") && p.contains("pfx"),
      "corpus rank lost its pfx bucket decomposition")
  }

  test("gopher rules: token-stream aggregates stay hash, no nested loops") {
    val pq = plan("text_gopher_quality")
    assert(!pq.contains("SortAggregate"), "quality gates grew a sort aggregate")
    assert(!pq.contains("CartesianProduct") && !pq.contains("BroadcastNestedLoopJoin"))
    assert(pq.contains("HashAggregate"))
    // repetition: the TOKEN-STREAM aggregates (per-doc gram counts — the
    // corpus-sized stage) must be hash aggregates; the modal min(struct)
    // folds run over the already-aggregated count tables and plan as
    // SortAggregate (struct buffers aren't hash-aggregatable) — that is
    // the accepted shape, sorting |doc×gram-type| rows, never the stream
    val pr = plan("text_gopher_repetition")
    assert(!pr.contains("CartesianProduct") && !pr.contains("BroadcastNestedLoopJoin"))
    assert(pr.contains("HashAggregate"),
      "gram counting lost its hash aggregate")
  }

  test("text_oov_rate: the k-row vocabulary reaches the counts via broadcast") {
    val p = plan("text_oov_rate")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"), "vocab top-k lost its heap")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_user_paths: per-user window pruned by WindowGroupLimit") {
    val p = plan("events_user_paths")
    assert(p.contains("WindowGroupLimit"), "rn <= depth no longer prunes the window")
    assert(p.contains("TakeOrderedAndProject"), "top-k paths lost their heap")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_winnowing: doc-partitioned sliding min, no unpartitioned window") {
    val p = plan("text_winnowing")
    // the round-11 deciles lesson: an unpartitioned Window moves the whole
    // corpus to one task — the winnowing window must key on doc_id
    assert("Window.*doc_id".r.findFirstIn(p).isDefined ||
      p.contains("hashpartitioning(doc_id#"), "sliding min lost its doc_id partitioning")
    assert(!p.contains("CartesianProduct"))
  }

  test("ann_recall: both tiers stay equi-join; the rollup is a hash aggregate") {
    val p = plan("ann_recall")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortAggregate"))
  }

  test("text_pii family: row-local regex projections — no UDF, no join, no early exchange") {
    // detect/redact must be pure scan→project before the gate sort: a
    // shuffle or Scala UDF here would put per-row driver-visible work on
    // the 100-TB scrub path
    for (q <- Seq("text_pii_detect", "text_pii_redact")) {
      val p = plan(q)
      assert(!p.contains("ScalaUDF"), s"$q: regex work left codegen")
      assert(!p.contains("Join"), s"$q: unexpected join")
      assert(!p.contains("HashAggregate"), s"$q: unexpected aggregate")
      // the only exchange is the gate sort's range partitioning — a hash
      // exchange would mean a join/agg crept upstream of it
      assert(!p.contains("Exchange hashpartitioning"), s"$q: extra shuffle")
      assert(!p.contains("Exchange SinglePartition"), s"$q: single-task funnel")
    }
    val s = plan("text_pii_stats")
    assert(!s.contains("ScalaUDF"))
    assert(s.contains("HashAggregate"), "audit rollup must hash-aggregate")
    assert(!s.contains("SortAggregate"))
  }

  test("text_decontaminate_semantic: bounded-eval broadcast pass, corpus never cartesians itself") {
    // the knn_pq_batch contract: the ONLY nested loop is against the
    // broadcast eval side (bounded by the benchmark suite, not the
    // corpus), and the per-vector max is a partial-aggregating hash agg
    val p = plan("text_decontaminate_semantic")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "eval side should broadcast (bounded-side contract)")
    assert(!p.contains("CartesianProduct"), "corpus-side cartesian crept in")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortAggregate"))
  }

  test("multimodal_audio_neardup: pigeonhole banding keeps audio pairs an equi-join") {
    val p = plan("multimodal_audio_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("bpe_encode / bpe_fertility: type-table joins broadcast; corpus side never shuffles twice") {
    // encode's corpus-scale work is tokenize → broadcast join → one
    // per-doc aggregate; the word→ids map rides the broadcast (the
    // docTokenCounts contract)
    val p = plan("bpe_encode")
    assert(p.contains("BroadcastHashJoin"), "word→ids map should broadcast")
    assert(!p.contains("CartesianProduct"))
    val f = plan("bpe_fertility")
    assert(f.contains("BroadcastHashJoin"))
    assert(!f.contains("SortAggregate"))
  }

  test("text_cms_sketch: the shuffle is cell-keyed, never token-keyed") {
    // the sketch's whole scale claim: partial aggregation collapses each
    // partition to <= d·w cells, so the only hash exchange is on (r, c) —
    // a token-keyed exchange would mean the vocabulary crosses the wire
    val p = plan("text_cms_sketch")
    assert(!p.contains("hashpartitioning(token"),
      "CMS must never shuffle by token")
    assert(p.contains("partial_count"), "map-side partial aggregation lost")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("ulm_encode / ulm_vocab: model-table joins broadcast; corpus side " +
    "never sort-merge-joins") {
    val p = plan("ulm_encode")
    assert(p.contains("BroadcastHashJoin"), "word→ids map should broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    val v = plan("ulm_vocab")
    assert(v.contains("BroadcastNestedLoopJoin") || v.contains("BroadcastHashJoin"),
      "the 1-row total should broadcast-cross, not shuffle")
    assert(!v.contains("CartesianProduct"))
  }

  test("multimodal_webm_meta: one narrow decode pass over the persisted " +
    "media scan, no joins") {
    val p = plan("multimodal_webm_meta")
    assert(!p.contains("Join"), "the EBML walk is row-local")
    assert(p.count(_ == '\n') < 400) // a scan + mapPartitions + sort, nothing more
  }

  test("text_extract family: row-local block walk — no UDF, no join, no early exchange") {
    // the ingest stage's whole scale claim: HTML→text is scan→project
    // (sentinel split + HOF filter/transform), so 100 TB of markup never
    // crosses the wire; the only exchange is the gate sort's
    for (q <- Seq("text_extract_html", "text_extract_blocks")) {
      val p = plan(q)
      assert(!p.contains("ScalaUDF"), s"$q: extraction left codegen-native expressions")
      assert(!p.contains("Join"), s"$q: unexpected join")
      assert(!p.contains("HashAggregate"), s"$q: unexpected aggregate")
      assert(!p.contains("Exchange hashpartitioning"), s"$q: extra shuffle")
      assert(!p.contains("Exchange SinglePartition"), s"$q: single-task funnel")
    }
    val s = plan("text_extract_stats")
    assert(!s.contains("ScalaUDF"))
    assert(s.contains("HashAggregate"), "extraction card must hash-aggregate")
    assert(!s.contains("SortAggregate"))
    assert(!s.contains("Exchange hashpartitioning"),
      "per-doc numbers are row-local; only the single-row final agg exchanges")
  }

  test("warc family: framing walk + canonicalization row-local; crawl dedup " +
    "is one partial agg over narrow rows, never a window") {
    // the crawl head's scale claim: record parse and URL canonicalization
    // never cross the wire; latest-fetch-wins shuffles one candidate per
    // (partition, url), not the fetch log
    // warc_parse_stream's offsets FOLD is an expression (lowercase
    // "aggregate" inside Project), not an Aggregate operator — the
    // row-local assertions below hold for it identically
    for (q <- Seq("warc_parse", "warc_parse_stream", "url_canonical")) {
      val p = plan(q)
      assert(!p.contains("ScalaUDF"), s"$q: parse left codegen-native expressions")
      assert(!p.contains("Join"), s"$q: unexpected join")
      assert(!p.contains("Aggregate"), s"$q: unexpected aggregate")
      assert(!p.contains("hashpartitioning("), s"$q: extra shuffle")
    }
    for (q <- Seq("crawl_dedup_url", "crawl_dedup_stream")) {
      val d = plan(q)
      assert(!d.contains("Window"),
        s"$q: latest-fetch must be a partial-aggregable agg, not a window over the fetch log")
      assert(!d.contains("Join") && !d.contains("ScalaUDF"), s"$q")
      assert("hashpartitioning\\(".r.findAllIn(d).size == 1,
        s"$q: exactly one hash exchange (partial -> final)")
      // the partial/final pair exists (map-side combine collapses each
      // partition to one candidate per URL before the exchange)
      assert("SortAggregate".r.findAllIn(d).size >= 2 ||
        "HashAggregate".r.findAllIn(d).size >= 2,
        s"$q: partial aggregation lost")
    }
  }
}
