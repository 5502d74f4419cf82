package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Incrementally maintained search index — streaming ingest, identical
  * query answers to the batch-built index.
  *
  * Layout (batch-keyed, idempotent; no read-modify-write anywhere, so
  * concurrent ingest and query are safe):
  *
  *   indexDir/vocab_delta/batch=N/  (word, df_delta) per ingested batch
  *   indexDir/postings/batch=N/wb=K/ (doc_id, word, tf), bucketed by word hash
  *   indexDir/docinfo/batch=N/      (doc_id, source, lang)
  *
  * Design notes vs the batch index (Search.buildIndex):
  *  - Postings are keyed by the word itself, not a word_id: ids would need
  *    cross-batch coordination (new words arriving change the id space),
  *    while df(word) is a pure sum of per-batch deltas because document
  *    sets of batches are disjoint. The df²-scored results are identical —
  *    the score never sees ids.
  *  - Bucket = pmod(xxhash64(word), buckets) as a parquet partition column:
  *    a query computes its own terms' buckets and prunes, exactly like the
  *    word_id buckets of the batch index.
  *  - Each batch's three writes are `batch=<id>` overwrites gated by
  *    BatchCommit: a crash-replayed micro-batch (at-least-once
  *    foreachBatch) overwrites its own previous attempt — committed or
  *    partial — with identical content instead of appending the batch a
  *    second time (which would double every df_delta and tf it touches).
  *    Readers aggregate only committed batch dirs, so a half-written
  *    attempt is invisible.
  */
object IncrementalIndex {

  val Buckets = 16

  /** Fold one micro-batch of documents into the index, keyed by
    * `batchId` — calling again with the same (docs, batchId) is a no-op
    * in effect (deterministic overwrite). Distinct batches MUST use
    * distinct ids; Structured Streaming's epoch id has exactly the right
    * semantics.
    */
  def ingestBatch(docs: DataFrame, indexDir: String, batchId: Long = 0L): Unit = {
    Lease.check(indexDir) // fail loudly while compaction holds the dir
    // the batch is tokenized once: both writes read these persisted
    // (doc_id, word, tf) rows, which are distinct per (doc_id, word), so
    // df is a plain count
    val bdw = Search.docWordCounts(docs).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      BatchCommit.writeBatch(
        bdw.groupBy("word").agg(count(lit(1)).as("df_delta")),
        s"$indexDir/vocab_delta", batchId)
      BatchCommit.writeBatch(
        bdw.withColumn("wb", pmod(xxhash64(col("word")), lit(Buckets.toLong)).cast("int")),
        s"$indexDir/postings", batchId, partitionCols = Seq("wb"))
    } finally bdw.unpersist()
    BatchCommit.writeBatch(
      Search.docInfo(docs).select("doc_id", "source", "lang"),
      s"$indexDir/docinfo", batchId)
    // post-write guard: compaction acquiring the lease mid-batch could
    // swap away the dirs just written — fail before the checkpoint
    // advances so the batch replays against the compacted generation
    Lease.check(indexDir)
    Seq("vocab_delta", "postings", "docinfo").foreach(t =>
      BatchCommit.requireIntact(docs.sparkSession, s"$indexDir/$t", batchId))
  }

  /** Committed-batches view of one of the index's tables. */
  private def table(spark: SparkSession, indexDir: String, name: String): DataFrame =
    BatchCommit.readCommitted(spark, s"$indexDir/$name").getOrElse(
      throw new IllegalStateException(
        s"$indexDir/$name has no committed batches — ingest before querying"))

  /** Streaming ingest: every arriving documents file is folded into the
    * index via foreachBatch. AvailableNow drains what exists then stops —
    * swap the trigger for continuous ingestion.
    */
  def streamingIngest(spark: SparkSession, streamDir: String,
                      indexDir: String, maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val docs = spark.readStream
      .schema(spark.read.parquet(streamDir).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(streamDir)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, indexDir, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Compact the batch-keyed index: fold every vocab delta into a single
    * consolidated delta, coalesce the postings buckets' accumulated
    * per-batch dirs, and coalesce docinfo — each into one `batch=compact`
    * dir. Query answers are unchanged (spec-pinned) — df is associative,
    * postings rows are untouched, only the dir layout shrinks.
    *
    * Why this exists at scale: ingest commits one batch dir per
    * micro-batch, so after N batches query-time listing and the
    * vocabulary delta-sum are O(N). Periodic compaction resets them to
    * O(1) — the same role parquet/table-format maintenance jobs play in
    * any streaming lakehouse. All three tables swap under ONE
    * `DirSwap.swap` marker scope, so a crash at any point recovers to a
    * single consistent generation across them. The maintenance window is
    * MECHANICAL: the swap runs under the dir's `Lease`, and `ingestBatch`
    * fails loudly (checkpoint unadvanced → idempotent replay) if a batch
    * arrives while it is held.
    */
  def compact(spark: SparkSession, indexDir: String): Unit =
    Lease.withLease(indexDir, "index-compact") {
      // folded-ledger per table (see BatchCommit.recordFolded): a batch
      // crash-replayed from before this fold must skip re-writing rows
      // the compact generation already holds
      def fold(out: String, sub: String): Unit =
        BatchCommit.recordFolded(spark, out, s"$indexDir/$sub",
          BatchCommit.committedNumericIds(spark, s"$indexDir/$sub"))
      DirSwap.swap(indexDir, Seq(
      "vocab_delta" -> { out =>
        vocabulary(spark, indexDir).withColumnRenamed("df", "df_delta")
          .coalesce(1).write.parquet(s"$out/batch=compact")
        fold(out, "vocab_delta")
        DirSwap.markComplete(out)
      },
      "postings" -> { out =>
        table(spark, indexDir, "postings")
          .repartition(col("wb"))
          .write.partitionBy("wb").parquet(s"$out/batch=compact")
        fold(out, "postings")
        DirSwap.markComplete(out)
      },
      "docinfo" -> { out =>
        table(spark, indexDir, "docinfo")
          .coalesce(1).write.parquet(s"$out/batch=compact")
        fold(out, "docinfo")
        DirSwap.markComplete(out)
      })) }

  /** Current vocabulary view: df = sum of per-batch deltas. */
  def vocabulary(spark: SparkSession, indexDir: String): DataFrame =
    table(spark, indexDir, "vocab_delta")
      .groupBy("word").agg(sum("df_delta").as("df"))

  /** Query the live index: same df² semantics and tie-break as
    * Search.searchTopK; the postings scan prunes to the query's buckets
    * (each committed batch dir carries its own wb=K partitions, so the
    * PartitionFilters apply per dir).
    */
  def searchTopK(spark: SparkSession, indexDir: String,
                 query: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val vocab = vocabulary(spark, indexDir)
    val qt = Search.queryTerms(spark, query).join(vocab, "word")
      .select("word", "qtf", "df")
    val qWords = qt.select("word").as[String].collect().toSeq // ≤ |query terms|
    val qBuckets =
      if (qWords.isEmpty) Seq.empty[Int]
      else qWords.toDF("word")
        .select(pmod(xxhash64(col("word")), lit(Buckets.toLong)).cast("int").as("wb"))
        .collect().map(_.getInt(0)).distinct.toSeq
    val post = table(spark, indexDir, "postings")
      .filter(col("wb").isin(qBuckets: _*))
    Search.topKWithDocInfo(Search.parityScores(post.join(broadcast(qt), "word")),
      table(spark, indexDir, "docinfo"), k)
  }
}
