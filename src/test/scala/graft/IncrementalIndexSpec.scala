package graft

import graft.operators.{IncrementalIndex, Search}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingest must answer queries identically to the batch pipeline
  * over the same corpus — df is a pure sum of disjoint-batch deltas, and
  * the df² score never sees word ids.
  */
class IncrementalIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("two-file streaming ingest == batch pipeline, query-for-query") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val streamDir = java.nio.file.Files.createTempDirectory("docstream").toString
    val idx = java.nio.file.Files.createTempDirectory("incidx").toString
    // stage the corpus as two files → two micro-batches
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(streamDir)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(streamDir)

    val q = IncrementalIndex.streamingIngest(spark, streamDir, idx, maxFilesPerTrigger = 1)
    q.awaitTermination() // AvailableNow: drains both files then stops

    // vocabulary df matches the batch build
    val incVocab = IncrementalIndex.vocabulary(spark, idx)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchVocab = Search.vocabulary(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(incVocab == batchVocab)

    // the flagship query answers identically (doc_id, score)
    val inc = IncrementalIndex.searchTopK(spark, idx, Search.DefaultQuery, 10)
      .select("doc_id", "score").collect().map(_.toString).toSeq
    val batch = Search.searchTopK(spark, TestSpark.sf0001, Search.DefaultQuery, 10)
      .select("doc_id", "score").collect().map(_.toString).toSeq
    assert(inc == batch)

    // out-of-vocabulary query → empty, no bucket scan issues
    assert(IncrementalIndex.searchTopK(spark, idx, "zzqx 42", 5).count() == 0)

    // compaction: same answers, collapsed file layout
    def parquetFiles(sub: String) =
      org.apache.commons.io.FileUtils.listFiles(
        new java.io.File(s"$idx/$sub"), Array("parquet"), true).size
    val vocabFilesBefore = parquetFiles("vocabulary")
    assert(vocabFilesBefore >= 2) // one delta set per micro-batch
    IncrementalIndex.compact(spark, idx)
    assert(parquetFiles("vocabulary") == 1)
    val compVocab = IncrementalIndex.vocabulary(spark, idx)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(compVocab == batchVocab)
    val comp = IncrementalIndex.searchTopK(spark, idx, Search.DefaultQuery, 10)
      .select("doc_id", "score").collect().map(_.toString).toSeq
    assert(comp == batch)
    // index stays appendable after compaction
    IncrementalIndex.ingestBatch(docs.limit(1), idx)
    assert(IncrementalIndex.searchTopK(spark, idx, Search.DefaultQuery, 10).count() == 10)
  }
}
