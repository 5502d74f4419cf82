package graft.streaming

import graft.operators.{BatchCommit, Bpe, Ulm}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ENCODE for both trained tokenizer families — the
  * train-once/encode-forever deployment story: the model is trained
  * batch-side and FROZEN (merge ledger + closed symbol vocabulary +
  * word→ids cache for BPE; cost map + closed piece vocabulary +
  * word→ids cache for unigram-LM), and every micro-batch of arriving
  * documents is encoded statelessly against it — no cross-batch state at
  * all, so the ingest needs only the batch-keyed idempotent output
  * commit (BatchCommit), not the signature-state machinery of the dedup
  * ingests.
  *
  * Per batch the corpus-scale work is one positioned tokenize + one
  * broadcast join against the bounded id cache (Bpe.encodeFrom /
  * Ulm.encodeFrom); word types the cache has never seen fall back to the
  * model itself — the merge chain (BPE) or a lenient Viterbi pass (ULM)
  * over just the UNSEEN types. OOV words: the plain batch encodes drop
  * words that reach outside the closed symbol/piece vocabulary whole
  * (spec-pinned — the strict-closed-vocabulary contract); the `*Bytes`
  * variants implement the production alternative, SentencePiece-style
  * byte-fallback (OOV symbols/chars expand to UTF-8 byte-piece ids above
  * the closed vocabulary — nothing drops, decode round-trips; gated
  * batch-side as bpe_encode_bytes / ulm_encode_bytes).
  *
  * Prefix equality (StreamingSpec): because encoding is per-doc
  * deterministic under the frozen model, the stream's accumulated output
  * after any micro-batch equals the BATCH encode of exactly the docs
  * streamed so far — and a crash-replay of a committed batch is a no-op.
  */
object TokenStreams {

  /** One micro-batch of BPE encode under the frozen model. `wids` is
    * the train-time (word, ids, n_sym) cache, `symIds` the closed
    * (symbol, id) vocabulary; both are model-sized side inputs.
    */
  def bpeEncodeBatch(batch: DataFrame, merges: Seq[Bpe.Merge],
                     wids: DataFrame, symIds: DataFrame): DataFrame = {
    val unseen = Bpe.wordTypes(batch)
      .join(wids.select("word"), Seq("word"), "left_anti")
    Bpe.encodeFrom(batch,
      wids.unionByName(Bpe.wordIdsFromFixed(unseen, merges, symIds)))
  }

  /** One micro-batch of unigram-LM encode under the frozen model.
    * `wids` is the train-time (word, ids, n_pieces) cache, `costs` the
    * frozen piece cost map, `pieceIdTable` the closed (piece, id)
    * vocabulary.
    */
  def ulmEncodeBatch(batch: DataFrame, costs: Map[String, Double],
                     maxPieceLen: Int, wids: DataFrame,
                     pieceIdTable: DataFrame): DataFrame = {
    val unseen = Bpe.wordTypes(batch).drop("sym")
      .join(wids.select("word"), Seq("word"), "left_anti")
    Ulm.encodeFrom(batch,
      wids.unionByName(
        Ulm.wordIdsFromFixed(unseen, costs, maxPieceLen, pieceIdTable)))
  }

  /** [[bpeEncodeBatch]] with BYTE-FALLBACK (the production OOV story —
    * SentencePiece byte_fallback): unseen types encode through
    * Bpe.wordIdsFromFixedBytes, so out-of-alphabet symbols expand to
    * UTF-8 byte-piece ids instead of dropping the word. Tokenize runs
    * Unicode-keeping (ByteFallback.tokens) — an ASCII normalize would
    * strip the foreign words before the model ever saw them. The cached
    * `wids` half is unchanged: train-corpus docs encode bit-identically
    * to the plain batch encode.
    */
  def bpeEncodeBatchBytes(batch: DataFrame, merges: Seq[Bpe.Merge],
                          wids: DataFrame, symIds: DataFrame): DataFrame = {
    val bf = graft.operators.ByteFallback
    val unseen = bf.wordTypes(batch)
      .join(wids.select("word"), Seq("word"), "left_anti")
    bf.encodeFrom(batch,
      wids.unionByName(Bpe.wordIdsFromFixedBytes(unseen, merges, symIds)),
      "n_sym", "n_bpe_tokens")
  }

  /** [[ulmEncodeBatch]] with BYTE-FALLBACK — the ULM family twin of
    * [[bpeEncodeBatchBytes]] (fallback Viterbi edge + byte expansion,
    * see Ulm.wordIdsFromFixedBytes).
    */
  def ulmEncodeBatchBytes(batch: DataFrame, costs: Map[String, Double],
                          maxPieceLen: Int, wids: DataFrame,
                          pieceIdTable: DataFrame): DataFrame = {
    val bf = graft.operators.ByteFallback
    val unseen = bf.wordTypes(batch).drop("sym")
      .join(wids.select("word"), Seq("word"), "left_anti")
    bf.encodeFrom(batch,
      wids.unionByName(
        Ulm.wordIdsFromFixedBytes(unseen, costs, maxPieceLen, pieceIdTable)),
      "n_pieces", "n_ulm_tokens")
  }

  /** Always-on streaming BPE encode: text in, model-ready token ids out,
    * per micro-batch, landed under `outDir/batch=<id>` with the
    * batch-keyed idempotent replay contract.
    */
  def bpeEncodeIngest(docs: DataFrame, merges: Seq[Bpe.Merge],
                      wids: DataFrame, symIds: DataFrame,
                      outDir: String): StreamingQuery =
    encodeIngest(docs, outDir)(bpeEncodeBatch(_, merges, wids, symIds))

  /** Always-on streaming unigram-LM encode — the other family, same
    * contract.
    */
  def ulmEncodeIngest(docs: DataFrame, costs: Map[String, Double],
                      maxPieceLen: Int, wids: DataFrame,
                      pieceIdTable: DataFrame, outDir: String): StreamingQuery =
    encodeIngest(docs, outDir)(ulmEncodeBatch(_, costs, maxPieceLen, wids, pieceIdTable))

  /** Both families' ingest: each micro-batch's encode lands under
    * `outDir/batch=<id>`; no maintenance job guards the output, so it is
    * its own guard dir.
    */
  private def encodeIngest(docs: DataFrame, outDir: String)(
      encode: DataFrame => DataFrame): StreamingQuery =
    BatchCommit.sink(docs) { (batch, batchId) =>
      BatchCommit.inBatch(batch, batchId, outDir)(_.write(encode(batch), outDir))
    }
}
