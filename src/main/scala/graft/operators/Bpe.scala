package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training — the missing piece
  * between "count whitespace tokens" and a real LLM data budget: the token
  * count of a training corpus is defined by a TRAINED subword vocabulary,
  * not by whitespace.
  *
  * Shape: training iterates over the word-TYPE table (Sennrich's algorithm
  * — types weighted by corpus frequency, never token instances), so the
  * corpus-scale work is ONE tokenize + groupBy, localCheckpointed; each
  * merge round is a pair-count hash aggregate over |types| rows plus a
  * literal string replace. At 100 TB the type table is millions of rows —
  * executor-resident — and only the single argmax row crosses to the
  * driver per round: the same metadata-bounded trainer contract as
  * k-means/IVF (k×dim there, one (pair, cnt) row here).
  *
  * Cross-engine exactness: a word's symbol state is a plain string — every
  * symbol wrapped in single spaces (" t  h  e ") so adjacent symbols are
  * double-space separated and every symbol carries its own delimiters.
  * A merge of pair (a, b) is then replace(sym, " a  b ", " ab "):
  * left-to-right non-overlapping LITERAL replacement with identical
  * semantics in Spark (UTF8String.replace) and DuckDB (replace) — no
  * regex, no lookbehind, no engine divergence — and the own-delimiter
  * rendering makes a whole-symbol match structurally unambiguous (the
  * symbol pair ("ba","b") renders " ba  b ", which cannot contain the
  * pattern " a  b "). Counts are integers and the argmax tie-break
  * (cnt desc, pair asc — binary collation both engines) is a total order,
  * so the whole iterative computation hash-matches an unrolled-CTE DuckDB
  * twin: the PageRank discipline (graph_pagerank), for strings instead of
  * decimals.
  */
object Bpe {

  /** One merge decision: `pair` is "a b" (single-space-joined symbols),
    * `cnt` its corpus frequency at selection time.
    */
  final case class Merge(step: Int, pair: String, cnt: Long)

  /** Merges folded into one plan segment before the lineage is cut with a
    * localCheckpoint. One chained `replace` per merge is free at 8 merges
    * but a 32k-merge production vocabulary would build a 32k-deep
    * expression tree — quadratic planner work during training (each round
    * re-plans the whole chain) and an un-codegen-able mega-projection at
    * encode. Chunking bounds every plan to ≤ ChunkMerges replaces; the
    * checkpoint materializes the type table (types × ~bytes — executor
    * resident at any corpus size, it is the trainer's working set anyway).
    */
  val ChunkMerges = 64

  /** (word, freq, sym): the word-type table with initial symbol state —
    * each character wrapped in spaces ("the" → " t  h  e ").
    */
  def wordTypes(docs: DataFrame): DataFrame =
    Search.tokens(docs).groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("sym", regexp_replace(col("word"), "(.)", " $1 "))

  /** Corpus pair counts of the current symbol state: (pair, cnt) with
    * pair = "a b". zip_with over two slices of the symbol array — the
    * codegen-friendly bigram form (see Search.phraseTopK on the 17×
    * interpreted-HOF trap with transform+element_at).
    */
  def pairCounts(wt: DataFrame): DataFrame = {
    val arr = split(trim(col("sym")), "  ")
    val n = size(col("arr"))
    wt.select(col("freq"), arr.as("arr"))
      .select(col("freq"), explode(zip_with(
        slice(col("arr"), lit(1), n - 1),
        slice(col("arr"), lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b))).as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
  }

  /** replace(sym, " a  b ", " ab ") for pair "a b" — one merge step. */
  def mergeExpr(sym: Column, pair: String): Column = {
    val pat = " " + pair.replace(" ", "  ") + " "
    val merged = " " + pair.replace(" ", "") + " "
    replace(sym, lit(pat), lit(merged))
  }

  /** REFERENCE implementation — spec-contrast only, not the recommended
    * API (round-11 demotion, per the round-10 verdict): one argmax
    * collect per merge means a 32k-vocabulary run pays 32k scheduler
    * round-trips of pure latency. Production paths — and every
    * registered query — use [[trainBatched]]; `batch = 1` reproduces
    * this trainer verbatim (BpeSpec pins the equivalence, and the
    * bpe_merges_batched oracle pins it under the driver's hash gate), so
    * this survives as the semantic witness the batched trainer is
    * checked against.
    *
    * Jobs: one localCheckpoint of the type table (the only corpus scan),
    * then one 1-row argmax collect per round — driver traffic is
    * numMerges (pair, cnt) rows total. Stops early only on a degenerate
    * corpus where every word is a single symbol (the oracle assumes the
    * full run; the fixtures are nowhere near it).
    */
  def train(docs: DataFrame, numMerges: Int = 8): Seq[Merge] = {
    var wt = wordTypes(docs).localCheckpoint()
    val out = Seq.newBuilder[Merge]
    var k = 1
    var exhausted = false
    while (k <= numMerges && !exhausted) {
      val best = pairCounts(wt).orderBy(desc("cnt"), asc("pair")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val m = Merge(k, best(0).getString(0), best(0).getLong(1))
        out += m
        wt = wt.withColumn("sym", mergeExpr(col("sym"), m.pair))
        // cut the replace chain every ChunkMerges rounds — without this
        // round r re-plans r chained replaces (quadratic planner work
        // across a 32k-merge run)
        if (k % ChunkMerges == 0) wt = wt.localCheckpoint()
        k += 1
      }
    }
    out.result()
  }

  /** Batched trainer: per Spark round, collect the top candidate pairs
    * and greedily pick up to `batch` of them that are pairwise
    * CONFLICT-FREE — no two picked pairs share a symbol (including each
    * pick's newly created merged symbol), so their literal replaces
    * cannot interact and applying them in any order yields the same
    * table. One driver round-trip then advances `batch` merges instead
    * of one: a 32k-merge production vocabulary takes ~500 Spark rounds
    * instead of 32k, which is the difference between minutes and hours
    * of pure scheduler latency (the per-round fixed cost measures ~0.7 s
    * regardless of corpus size — BASELINE.md "DSIR + BPE scale smoke").
    *
    * Semantics: the FIRST pick of every round is the global argmax —
    * exactly the classic merge — so `batch = 1` reproduces [[train]]
    * verbatim (BpeSpec pins this). Later picks within a round use
    * round-start counts (the standard batched-BPE approximation: counts
    * of disjoint-symbol pairs are unaffected by each other's merges
    * except through newly-created symbols, which the conflict rule
    * excludes for the round). Recorded `cnt` is the selection-time count.
    */
  def trainBatched(docs: DataFrame, numMerges: Int = 8,
                   batch: Int = 64,
                   onRound: (Int, Int) => Unit = (_, _) => ()): Seq[Merge] = {
    require(batch >= 1, "batch must be >= 1")
    var wt = wordTypes(docs).localCheckpoint()
    val out = Seq.newBuilder[Merge]
    var done = 0
    var round = 0
    var exhausted = false
    while (done < numMerges && !exhausted) {
      val want = math.min(batch, numMerges - done)
      // Over-fetch so conflict skips still fill the batch. 4× is a
      // HEURISTIC margin, not a bound: each pick blocks its own ≤3
      // symbols, which suffices when top pairs are symbol-diverse
      // (typical text), but a hub symbol that appears in most top pairs
      // (common in EARLY rounds, where one frequent character dominates)
      // can make a round under-fill toward one merge. Correctness and
      // progress are unaffected — the next round recounts and continues;
      // only the ~numMerges/batch round-count claim degrades (it is a
      // best-case). The 4k-merge production run in BASELINE.md measures
      // the realized fill rate; scaling the over-fetch with the observed
      // conflict rate is the upgrade if a real corpus under-fills badly.
      val top = pairCounts(wt).orderBy(desc("cnt"), asc("pair"))
        .limit(want * 4).collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val picked = Seq.newBuilder[Merge]
        var n = 0
        top.iterator.takeWhile(_ => n < want).foreach { r =>
          val pair = r.getString(0)
          val syms = pair.split(" ")
          val merged = pair.replace(" ", "")
          if (syms.forall(!used(_)) && !used(merged)) {
            picked += Merge(done + n + 1, pair, r.getLong(1))
            used ++= syms; used += merged
            n += 1
          }
        }
        val ms = picked.result()
        out ++= ms
        done += ms.size
        round += 1
        onRound(round, ms.size) // observability hook: realized fill per round
        wt = ms.foldLeft(wt)((d, m) => d.withColumn("sym", mergeExpr(col("sym"), m.pair)))
          .localCheckpoint() // one cut per round — plan depth ≤ batch
      }
    }
    out.result()
  }

  /** Apply an ordered merge list to a (word, freq, sym) table — the
    * ENCODE side of the tokenizer: merges chain as literal replaces, so
    * encoding is a narrow projection (no shuffle, no state). Past
    * ChunkMerges merges the chain is cut per chunk (see ChunkMerges) so
    * plan depth stays bounded at any vocabulary size; at ≤ ChunkMerges
    * merges the plan is exactly the old single projection.
    */
  def applyMerges(wt: DataFrame, merges: Seq[Merge]): DataFrame = {
    val chunks = merges.grouped(ChunkMerges).toSeq
    chunks.zipWithIndex.foldLeft(wt) { case (d0, (chunk, i)) =>
      val d = chunk.foldLeft(d0)((d, m) => d.withColumn("sym", mergeExpr(col("sym"), m.pair)))
      if (i < chunks.size - 1) d.localCheckpoint() else d
    }
  }

  /** Final subword vocabulary with corpus token counts: (symbol,
    * n_tokens), the trained tokenizer's frequency table.
    */
  def symbolVocab(wt: DataFrame, merges: Seq[Merge]): DataFrame =
    applyMerges(wt, merges)
      .select(col("freq"), explode(split(trim(col("sym")), "  ")).as("symbol"))
      .groupBy("symbol").agg(sum("freq").as("n_tokens"))

  /** Per-document token count under the trained tokenizer: the per-word
    * symbol count joins the (doc_id, word, tf) table — broadcast (the
    * type table's (word, n_sym) projection is small even when the corpus
    * is not), then one per-doc sum. THE corpus-budget question for
    * training-data planning, answered with one corpus pass.
    */
  def docTokenCounts(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val nSym = applyMerges(wordTypes(docs), merges)
      .select(col("word"), size(split(trim(col("sym")), "  ")).as("n_sym"))
    Search.docWordCounts(docs).join(broadcast(nSym), "word")
      .groupBy("doc_id").agg(sum(col("tf") * col("n_sym")).as("bpe_tokens"))
  }

  /** Dense id table of the trained subword vocabulary: (symbol, id), ids
    * row-numbered in symbol order (binary collation — the same total
    * order both engines sort strings by). The vocabulary is the tokenizer
    * ARTIFACT, bounded by |alphabet| + numMerges by construction (each
    * merge mints exactly one new symbol), so the single-partition window
    * is metadata-sized at any corpus size (~32k rows for a production
    * vocabulary) — unlike the corpus-scale word vocabulary, which needs
    * the distributed rank (Ranks.position).
    */
  def symbolIds(wt: DataFrame, merges: Seq[Merge]): DataFrame =
    symbolIdsFrom(applyMerges(wt, merges)
      .select(col("word"), split(trim(col("sym")), "  ").as("syms")))

  private def symbolIdsFrom(enc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // unpartitioned window, bounded by the model: <= |alphabet| +
    // numMerges distinct symbols (see symbolIds), never by the corpus
    enc.select(explode(col("syms")).as("symbol")).distinct()
      .withColumn("id", row_number().over(Window.orderBy("symbol")))
  }

  /** Per-word-TYPE encoding under the trained tokenizer: (word, ids,
    * n_sym) where `ids` is the word's space-joined subword-id sequence.
    * This is the half of encode that is vocabulary-shaped: the merge
    * chain runs over |types| rows once, then each word's symbol list maps
    * through the broadcast id table and reassembles in symbol order via
    * array_sort over (pos, id) structs — no window over the corpus.
    */
  def wordIds(wt: DataFrame, merges: Seq[Merge]): DataFrame = {
    // one merge-chain evaluation: the encoded type table is cut here and
    // feeds BOTH the vocabulary and the per-word id strings (previously
    // symbolIds re-ran the whole chain — self-review finding, round 14)
    val enc = applyMerges(wt, merges)
      .select(col("word"), split(trim(col("sym")), "  ").as("syms"))
      .localCheckpoint()
    val vocab = symbolIdsFrom(enc)
    enc.select(col("word"), posexplode(col("syms")).as(Seq("pos", "symbol")))
      .join(broadcast(vocab), "symbol")
      .groupBy("word")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("id")))),
          x => x("id").cast("string")), " ").as("ids"),
        count(lit(1)).cast("long").as("n_sym"))
  }

  /** ENCODE: the corpus as subword-id sequences — (doc_id, ids,
    * n_bpe_tokens), `ids` the doc's full space-joined token-id stream in
    * document order. The corpus-scale work is one tokenize with position
    * + one broadcast join against the word→ids type table (types are
    * bounded even when the corpus is not — the docTokenCounts contract)
    * + one per-doc reassembly aggregate; nothing shuffles twice and no
    * driver collect touches the data path. This is the operator a
    * training pipeline runs LAST — text in, model-ready token ids out.
    */
  def encode(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    encodeFrom(docs, wordIds(wordTypes(docs), merges))

  /** `encode` against a FIXED (word, ids, n_sym) table — the
    * train-once/encode-forever deployment split (TokenStreams rides
    * this): the id table is the frozen model artifact; each new corpus
    * slice or micro-batch only pays the tokenize + broadcast join.
    * Words absent from `wids` drop out of the stream (the caller decides
    * the OOV story — TokenStreams falls back to the merge chain over
    * unseen types first).
    */
  def encodeFrom(docs: DataFrame, wids: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        posexplode(graft.functions.TextOps.splitWords(
          graft.functions.TextOps.normalize(col("text")))).as(Seq("pos", "word")))
      .filter(graft.functions.TextOps.isKeptToken(col("word")))
    toks.join(broadcast(wids), "word")
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("ids")))),
          x => x("ids")), " ").as("ids"),
        sum(col("n_sym")).as("n_bpe_tokens"))
  }

  /** Per-word-type id sequences under a FIXED closed symbol vocabulary
    * (symbol, id) — the OOV fallback path: the merge chain runs over the
    * UNSEEN types, each symbol maps through the frozen id table, and a
    * word containing any out-of-vocabulary symbol is dropped WHOLE (a
    * partial id stream would silently corrupt the encode; byte-fallback
    * is the production alternative, documented not implemented).
    */
  def wordIdsFromFixed(wt: DataFrame, merges: Seq[Merge],
                       symIds: DataFrame): DataFrame =
    applyMerges(wt, merges)
      .select(col("word"), posexplode(split(trim(col("sym")), "  "))
        .as(Seq("pos", "symbol")))
      .join(broadcast(symIds), Seq("symbol"), "left")
      .groupBy("word")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("id")))),
          x => x("id").cast("string")), " ").as("ids"),
        count(lit(1)).cast("long").as("n_sym"),
        max(when(col("id").isNull, 1).otherwise(0)).as("oov"))
      .filter(col("oov") === 0)
      .drop("oov")

  /** [[wordIdsFromFixed]] with BYTE-FALLBACK (SentencePiece
    * `byte_fallback`): instead of dropping a word whose merged symbol
    * state contains an out-of-vocabulary symbol, each OOV symbol encodes
    * as its UTF-8 byte pieces (ids b0+1+byte above the closed
    * vocabulary's max id — see ByteFallback). The encode is TOTAL: every
    * word yields ids, known symbols still merge and map normally, and
    * n_sym counts fallback symbols at their byte length. The b0 base is
    * a broadcast 1-row aggregate — nothing collects.
    */
  def wordIdsFromFixedBytes(wt: DataFrame, merges: Seq[Merge],
                            symIds: DataFrame): DataFrame = {
    val b0 = symIds.agg(max(col("id")).cast("long").as("b0"))
    applyMerges(wt, merges)
      .select(col("word"), posexplode(split(trim(col("sym")), "  "))
        .as(Seq("pos", "symbol")))
      .join(broadcast(symIds), Seq("symbol"), "left")
      .crossJoin(broadcast(b0))
      .select(col("word"), col("pos"),
        coalesce(col("id").cast("string"),
          ByteFallback.byteIds(col("symbol"), col("b0"))).as("ids"),
        when(col("id").isNull, ByteFallback.nBytes(col("symbol")))
          .otherwise(1L).as("np"))
      .groupBy("word")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("ids")))),
          x => x("ids")), " ").as("ids"),
        sum(col("np")).as("n_sym"))
  }

  /** Tokenizer fertility by source: subword tokens per whitespace word —
    * the compression diagnostic that decides whether a vocabulary suits a
    * corpus slice (a source the tokenizer fragments pays more of the
    * training budget per word). Both sides are per-doc aggregates joined
    * on doc_id (doc-count-sized, never |doc×word|-sized), then one
    * per-source sum; the ratio is stab(6)'d for the cross-engine gate.
    */
  def sourceFertility(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val perDoc = docTokenCounts(docs, merges)
    val words = Search.tokens(docs).groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"))
    docs.select("doc_id", "source")
      .join(words, "doc_id").join(perDoc, "doc_id")
      .groupBy("source")
      .agg(sum("n_words").as("n_words"), sum("bpe_tokens").as("n_bpe_tokens"))
      .withColumn("fertility", graft.functions.Stable.stab(
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double"), 6))
  }
}
