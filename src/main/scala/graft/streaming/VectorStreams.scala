package graft.streaming

import graft.operators.{BatchCommit, DirSwap, Lease, SemDedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the vector-index pipeline: embeddings arrive
  * continuously and fold into the persisted k-means IVF layout, so ANN
  * queries (`Similarity.ivfTopKIndexed` with k-means cells) keep
  * partition-pruning to probed cells while the corpus grows.
  *
  * Centroids stay FIXED during ingest — the standard IVF discipline: cell
  * assignment must agree with what queries probe, so the coarse quantizer
  * only changes in a periodic batch retrain (rebuild + swap), never
  * mid-stream. Appending a cell partition is an O(batch) parquet write;
  * nothing existing is rewritten.
  */
object VectorStreams {

  /** Assign one micro-batch to the index's centroids and write it as its
    * own committed `cells/batch=<id>` dir (BatchCommit — overwrite
    * semantics, so a crash-replayed batch rewrites identical content
    * instead of appending the vectors a second time). Pure batch function
    * (testable directly); distinct batches MUST use distinct ids.
    */
  def ingestVectorBatch(batch: DataFrame, indexDir: String, batchId: Long = 0L): Unit =
    // the frame's lease check fails a batch arriving mid-retrain (retrain
    // holds the dir's Lease for its whole run) BEFORE it reads centroids
    // that are about to be replaced; requireClean catches the narrower
    // crashed-mid-rename state, where `cells` and `centroids` can belong to
    // DIFFERENT generations and rows celled by one generation's centroids
    // would silently degrade recall
    BatchCommit.inBatch(batch, batchId, indexDir) { w =>
      DirSwap.requireClean(indexDir, "centroids")
      val cent = Similarity.indexTable(batch.sparkSession, indexDir, "centroids")
      w.write(Similarity.kmeansAssign(Similarity.prepared(batch), cent),
        s"$indexDir/cells", Seq("cell"))
    }

  /** Always-on embedding ingest: readStream of (vec_id, embedding) →
    * foreachBatch into a k-means IVF index built by
    * `Similarity.buildIvfIndex`. foreachBatch (not a stateful
    * operator) because the index is a persistent queryable table shared
    * with batch queries — same layout decision as IncrementalIndex and
    * the near-dup signature store; same batch-keyed replay idempotence
    * (readers — ANN queries, retrain — see only committed batch dirs via
    * `Similarity.cellsTable`, and cell-partition pruning applies per dir).
    */
  def vectorIngest(vectors: DataFrame, indexDir: String): StreamingQuery =
    BatchCommit.sink(vectors)(ingestVectorBatch(_, indexDir, _))

  /** Encode one micro-batch against the PQ index's FIXED codebooks and
    * write it as its own committed `codes/batch=<id>` dir — the PQ twin of
    * `ingestVectorBatch`, same fixed-quantizer discipline (codebooks only
    * change in a batch retrain, never mid-stream: codes must agree with
    * what queries' LUTs are built from) and same batch-keyed replay
    * idempotence.
    */
  def pqIngestBatch(batch: DataFrame, indexDir: String, batchId: Long = 0L): Unit =
    BatchCommit.inBatch(batch, batchId, indexDir) { w =>
      DirSwap.requireClean(indexDir, "codebooks") // see ingestVectorBatch
      val cbs = Similarity.pqCodebooksFromDf(
        Similarity.indexTable(batch.sparkSession, indexDir, "codebooks"))
      w.write(Similarity.pqEncode(Similarity.prepared(batch), cbs), s"$indexDir/codes")
    }

  /** Always-on PQ ingest: arriving embeddings are encoded and folded into
    * the persisted code table; ANN queries (`Similarity.knnPqBatch`)
    * keep scanning codes-only while the corpus grows.
    */
  def pqIngest(vectors: DataFrame, indexDir: String): StreamingQuery =
    BatchCommit.sink(vectors)(pqIngestBatch(_, indexDir, _))

  /** Screen one micro-batch of arriving embeddings against the FIXED
    * broadcast eval set and append the flagged rows to the contamination
    * ledger as a committed `batch=<id>` dir. The eval set only changes
    * between benchmark releases — the same fixed-artifact discipline as
    * IVF centroids and PQ codebooks (a mid-stream eval change would make
    * the ledger a mix of two gates; swap it with a batch re-screen).
    * Contamination is per-vector and stateless, so the ledger's union
    * over batches EQUALS the batch gate (Similarity.evalContamination)
    * on the ingested prefix — StreamingSpec pins the equality and the
    * crash-replay no-op.
    */
  def contaminationBatch(batch: DataFrame, evalSet: DataFrame,
                         outDir: String, batchId: Long,
                         threshold: Double): Unit =
    BatchCommit.inBatch(batch, batchId, outDir) { w =>
      w.write(Similarity.contaminationAgainst(Similarity.prepared(batch), evalSet, threshold),
        outDir)
    }

  /** Always-on semantic decontamination: embeddings stream in, flagged
    * (vec_id, max_cos) rows accumulate in the batch-keyed ledger a
    * pipeline anti-joins before training.
    */
  def contaminationIngest(vectors: DataFrame, evalSet: DataFrame,
                          outDir: String,
                          threshold: Double): StreamingQuery =
    // the eval set is re-evaluated per micro-batch (tiny by contract —
    // one small scan); no persist: a cached frame here would outlive
    // the query with no handle for the caller to unpersist it
    // (self-review finding, round 14)
    BatchCommit.sink(vectors)(contaminationBatch(_, evalSet, outDir, _, threshold))

  /** Seed the incremental-SemDeDup state from the EXISTING corpus: the
    * gated trainer's centroids plus the corpus's (vec_id, cell, e, nrm)
    * side as `cells/batch=base` — the layout `semanticDedupIngest` then
    * grows one committed batch dir at a time. Both tables are published
    * by one fold, so a seed that crashes midway leaves swap debris the
    * ingest refuses, never live centroids over an empty corpus side.
    */
  def buildSemanticState(oldEmb: DataFrame, stateDir: String,
                         k: Int = 8, iters: Int = 3): Unit = {
    val (asg, cent) = SemDedup.model(oldEmb, k, iters)
    BatchCommit.fold(stateDir, "base",
      Seq(("cells", asg.join(Similarity.prepared(oldEmb), "vec_id"), Nil)),
      plain = Seq("centroids" -> cent))
  }

  /** One micro-batch of incremental SemDeDup: assign the batch to the
    * state's FIXED centroids, emit new×existing near-dup pairs within
    * cells (SemDedup.incrementalPairsFrom — the same code path as the
    * batch operator, so parity is by construction), append them to the
    * batch-keyed `pairs` ledger, then fold the batch's own rows into
    * `cells`. Crash-replay safety is the dedupNearIngest discipline:
    * the prior state is read EXCLUDING this batch's own dir, so a
    * replayed batch recomputes identical pairs instead of matching
    * against itself. A seed that crashed midway (`centroids` not live,
    * swap debris beside it) fails the batch loudly.
    */
  def semanticIngestBatch(batch: DataFrame, stateDir: String,
                          batchId: Long, threshold: Double): Unit =
    BatchCommit.inBatch(batch, batchId, stateDir) { w =>
      val spark = batch.sparkSession
      DirSwap.requireClean(stateDir, "centroids")
      val cent = spark.read.parquet(s"$stateDir/centroids")
      val pNew = Similarity.prepared(batch).localCheckpoint()
      val cellsRoot = s"$stateDir/cells"
      val prior = BatchCommit.committedBatchDirs(spark, cellsRoot, exclude = Some(batchId))
      val oldSide =
        if (prior.isEmpty) // first batch: empty state with the right shape
          SemDedup.assignTo(pNew.limit(0), cent).join(pNew.limit(0), "vec_id")
        else spark.read.option("basePath", cellsRoot).parquet(prior: _*).drop("batch")
      w.write(SemDedup.incrementalPairsFrom(oldSide, pNew, cent, threshold), s"$stateDir/pairs")
      w.write(SemDedup.assignTo(pNew, cent).join(pNew, "vec_id"), cellsRoot)
    }

  /** Always-on incremental SemDeDup: vectors stream in, near-dup pairs
    * against everything already ingested accumulate in the `pairs`
    * ledger (what a pipeline's keep/prune step consumes), and the
    * corpus side grows per committed batch — the vector-space sibling
    * of DocStreams.dedupNearIngest.
    */
  def semanticDedupIngest(vectors: DataFrame, stateDir: String,
                          threshold: Double): StreamingQuery =
    BatchCommit.sink(vectors)(semanticIngestBatch(_, stateDir, _, threshold))

  /** The accumulated near-dup pairs ledger (None before any commit). */
  def semanticPairsLedger(spark: SparkSession, stateDir: String): Option[DataFrame] =
    BatchCommit.readCommitted(spark, s"$stateDir/pairs")

  /** Retrain the PQ codebooks on the CURRENT corpus and re-encode — the
    * PQ twin of `retrainIndex` (as streamed vectors drift from the
    * distribution the codebooks were trained on, quantization error grows
    * and ADC shortlists lose recall). Same one-marker-scope swap; the
    * maintenance window is held mechanically via the dir's `Lease` (see
    * retrainIndex for the checkpoint caveat that remains); the corpus
    * comes from the caller (the code table stores codes, not vectors).
    */
  def retrainPqIndex(spark: SparkSession, indexDir: String,
                     embeddings: DataFrame,
                     m: Int = 8, kCodes: Int = 16, iters: Int = 5): Unit =
    Lease.withLease(indexDir, "retrain-pq") {
      Similarity.buildPqIndex(embeddings, indexDir, m, kCodes, iters)
    }

  /** The periodic batch retrain + swap the fixed-centroid discipline
    * requires: as the streamed corpus drifts away from the distribution
    * the original centroids were trained on, cells go unbalanced and
    * probe-recall decays with no recovery path. This maintenance job
    * retrains the coarse quantizer on the vectors currently IN the index,
    * re-assigns the whole corpus, and swaps cells+centroids under ONE
    * `DirSwap.swap` marker scope: both new generations are fully
    * materialized aside before either rename, and a crash anywhere in the
    * window rolls FORWARD to the complete new generation on the next
    * `DirSwap.recover` (no more persisted mixed-generation index — the
    * round-6 version swapped the two tables independently). Readers and
    * the ingest guard on `requireClean`, so a query can no longer route by
    * one generation's centroids into the other's cells.
    *
    * The maintenance window is mechanical: the whole retrain holds the
    * dir's `Lease`, and the batch ingests check it — a micro-batch
    * arriving mid-retrain fails loudly and replays idempotently after.
    * The fold itself is replay-safe too: the absorbed batch ids ride the
    * new generation's `_FOLDED` ledger (BatchCommit.fold), so a
    * batch crash-replayed from BEFORE the fold — whose own dir the fold
    * deleted — skips its re-write instead of re-entering under the new
    * centroids next to its folded copy.
    *
    * The trainer's actions re-read the live `cells` dir, which is only
    * renamed after both aside-writes complete.
    */
  def retrainIndex(spark: SparkSession, indexDir: String,
                   kCells: Int = 8, iters: Int = 5): Unit =
    Lease.withLease(indexDir, "retrain-ivf") {
      val cur = Similarity.cellsTable(spark, indexDir).select("vec_id", "e", "nrm")
      val cent = Similarity.kmeansCentroidsPrepared(cur.select("vec_id", "e"), kCells, iters)
      // the retrained generation folds every committed batch into a new
      // batch=base; centroids are a LocalRelation (the trainer collects
      // k×dim means), so their write reads nothing live
      BatchCommit.fold(indexDir, "base",
        Seq(("cells", Similarity.kmeansAssign(cur, cent), Seq("cell"))),
        plain = Seq("centroids" -> cent))
    }
}
