package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incrementally maintained search index — streaming ingest, identical
  * query answers to the batch-built index.
  *
  * Layout: Search's index format (one derivation; ingest persists it with
  * `Search.withIndexOf`, as the batch build does),
  * one BatchCommit dir per table per ingested batch — batch-keyed and
  * idempotent, with no read-modify-write anywhere, so concurrent ingest
  * and query are safe:
  *
  *   indexDir/vocabulary/batch=N/       (word, df) — df of batch N only
  *   indexDir/postings/batch=N/wb=K/    (doc_id, word, tf)
  *   indexDir/docinfo/batch=N/          (doc_id, source, lang, n_chars, n_tokens)
  *
  *  - The format is keyed by the word, not a word id, so batches need no
  *    coordination: df(word) is a pure sum of per-batch deltas because the
  *    document sets of batches are disjoint. `open` sums them; queries then
  *    take Search's one indexed path, so answers match the batch index.
  *  - Each batch's three writes are `batch=<id>` overwrites gated by
  *    BatchCommit: a crash-replayed micro-batch (at-least-once
  *    foreachBatch) overwrites its own previous attempt — committed or
  *    partial — with identical content instead of appending the batch a
  *    second time (which would double every df and tf it touches).
  *    Readers see only committed batch dirs, so a half-written attempt is
  *    invisible.
  */
object IncrementalIndex {

  /** Fold one micro-batch of documents into the index, keyed by
    * `batchId` — calling again with the same (docs, batchId) is a no-op
    * in effect (deterministic overwrite). Distinct batches MUST use
    * distinct ids; Structured Streaming's epoch id has exactly the right
    * semantics.
    */
  def ingestBatch(docs: DataFrame, indexDir: String, batchId: Long = 0L): Unit =
    BatchCommit.inBatch(docs, batchId, indexDir) { w =>
      Search.withIndexOf(docs)(ix => Search.indexTables(ix).foreach {
        case (name, rows, parts) => w.write(rows, s"$indexDir/$name", parts)
      })
    }

  /** The committed batches, opened: the vocabulary is df summed over
    * batches, postings and docinfo are the union of the batches' rows.
    */
  def open(spark: SparkSession, indexDir: String): Search.Index = {
    val ix = Search.index((t, schema) =>
      BatchCommit.readCommitted(spark, s"$indexDir/$t", Some(schema)).getOrElse(
        throw new IllegalStateException(
          s"$indexDir/$t has no committed batches — ingest before querying")))
    ix.copy(vocabulary = ix.vocabulary.groupBy("word").agg(sum("df").as("df")))
  }

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
    BatchCommit.sink(docs, Trigger.AvailableNow())(ingestBatch(_, indexDir, _))
  }

  /** Compact the batch-keyed index: each table's committed batches —
    * the vocabulary summed — are rewritten as one `batch=compact` dir.
    * Query answers are unchanged (spec-pinned) — df is associative,
    * postings rows are untouched, only the dir layout shrinks.
    *
    * Why this exists at scale: ingest commits one batch dir per
    * micro-batch, so after N batches query-time listing and the
    * vocabulary delta-sum are O(N). Periodic compaction resets them to
    * O(1) — the same role parquet/table-format maintenance jobs play in
    * any streaming lakehouse. All three tables swap under ONE
    * `BatchCommit.fold`, so a crash at any point recovers to a single
    * consistent generation across them, and a pre-fold batch's replay is
    * a no-op (its ledger). The maintenance window is
    * MECHANICAL: the swap runs under the dir's `Lease`, and `ingestBatch`
    * fails loudly (checkpoint unadvanced → idempotent replay) if a batch
    * arrives while it is held.
    */
  def compact(spark: SparkSession, indexDir: String): Unit =
    Lease.withLease(indexDir, "index-compact") {
      BatchCommit.fold(indexDir, "compact", Search.indexTables(open(spark, indexDir)).map {
        case (name, rows, parts) => (name, if (parts.isEmpty) rows.coalesce(1) else rows, parts)
      })
    }

  /** Current vocabulary view: df = sum of per-batch deltas. */
  def vocabulary(spark: SparkSession, indexDir: String): DataFrame =
    open(spark, indexDir).vocabulary

  /** Query the live index: Search's indexed path, so the same df²
    * semantics, tie-break and bucket pruning as Search.searchTopKIndexed
    * (each committed batch dir carries its own wb=K partitions, so the
    * partition filters apply per dir).
    */
  def searchTopK(spark: SparkSession, indexDir: String,
                 query: String, k: Int = 10): DataFrame =
    Search.indexedTopK(open(spark, indexDir), query, k)
}
