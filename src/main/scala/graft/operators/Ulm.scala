package graft.operators

import graft.functions.Stable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.concurrent.{Executors, TimeoutException}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Unigram-language-model subword tokenizer (Kudo 2018 — the
  * SentencePiece unigram model), the OTHER tokenizer family beside BPE:
  * where BPE greedily composes a vocabulary bottom-up by pair frequency,
  * the unigram model starts from a LARGE candidate vocabulary and lets a
  * probabilistic model pick each word's best segmentation — the Viterbi
  * path minimizing Σ −ln p(piece) — re-estimating piece probabilities
  * from the chosen paths (hard EM).
  *
  * Shape (the Bpe.scala discipline): everything iterates over the
  * word-TYPE table — Search.tokens + groupBy is the only corpus-scale
  * work; candidate extraction is one substring explode over types;
  * each EM round is (a) a row-local Viterbi DP per type against a
  * BROADCAST cost table and (b) a |types|-sized recount aggregate. The
  * driver holds only the piece-cost map between rounds (≤ seedSize+|Σ|
  * rows — the k-means k×dim / BPE merge-ledger metadata contract). At
  * 100 TB none of this grows with the corpus except the one tokenize.
  *
  * The Viterbi DP runs as mapPartitions rather than joins: a per-word
  * DP carries per-prefix argmin state, which as DataFrame ops means
  * maxWordLen × maxPieceLen unrolled self-joins PER EM ROUND — viable
  * at this fixture's L=12 (the ORACLE does exactly that, giving the
  * hash gate an independent implementation) but not at a production
  * 32k-piece vocabulary over long words. Row-local DP against a
  * broadcast bounded model is the production tokenizer-inference shape.
  *
  * Cross-engine exactness: piece costs are stab(6)-rounded
  * −ln((cnt+1)/Σ(cnt+1)) (the +1 keeps every piece finite through EM —
  * a zero-count piece must still be rankable; ln's ≤1-ulp libm spread is
  * invisible under stab(6), the q_approx_sketches argument); the DP
  * accumulates cost LEFT-TO-RIGHT along the path, so both engines fold
  * the identical IEEE addition sequence; the argmin tie-break is the
  * total order (cost, path-string) under binary collation (pieces are
  * corpus text — ASCII here). The whole trainer therefore hash-matches
  * an unrolled-CTE DuckDB twin (UlmQueries), the BPE/PageRank oracle
  * discipline.
  */
object Ulm {

  /** Oracle DP unroll depth — a contract of the ORACLE (the DuckDB twin
    * unrolls the DP to this many positions), not of the operator: the
    * production DP is unbounded. Oracle-gated registry queries assert it
    * via `Params.assertMaxWordLen` so the gate fails loudly instead of
    * silently diverging if a fixture ever grows longer types (measured:
    * 8 at sf≤0.1, 10 at the sf1.0 decade fixture).
    */
  val MaxWordLen = 12

  /** `assertMaxWordLen`: when set, `segment` REQUIRES every word type to
    * fit the given length — the oracle-unroll honesty assert (round-15
    * verdict #1: it used to live unconditionally in the operator, so any
    * real corpus with a 13+-char word aborted the trainer; the DP itself
    * has no length bound).
    */
  final case class Params(maxPieceLen: Int = 6, seedSize: Int = 128,
                          iters: Int = 2,
                          assertMaxWordLen: Option[Int] = None)

  /** Pruning schedule knobs (Kudo 2018 §4's vocabulary-size control):
    * per round drop the `eta` fraction of multi-char pieces whose removal
    * raises the corpus Viterbi NLL least, until `targetMulti` multi-char
    * pieces remain (single characters never compete and always survive —
    * segmentability is unconditional).
    */
  final case class PruneParams(targetMulti: Int = 32, eta: Double = 0.5)

  /** The static drop schedule for a filled seed: drop counts per round
    * from `nMulti0` down to `targetMulti`. Pure arithmetic shared with
    * the oracle generator, so both engines walk identical rounds once
    * the round-1 multi count is anchored (the registry `require`).
    */
  def pruneSchedule(nMulti0: Int, pp: PruneParams): Seq[Int] = {
    require(nMulti0 > pp.targetMulti,
      s"nothing to prune: $nMulti0 <= target ${pp.targetMulti}")
    val b = Seq.newBuilder[Int]
    var n = nMulti0
    while (n > pp.targetMulti) {
      val d = math.min(n - pp.targetMulti, math.max(1, (pp.eta * n).toInt))
      b += d
      n -= d
    }
    b.result()
  }

  /** Substring candidates over the word-type table: every substring of
    * length ≤ maxPieceLen of every type, weighted by corpus word
    * frequency (occurrences counted with multiplicity). One explode +
    * one hash aggregate over |types| rows.
    */
  def candidates(wt: DataFrame, maxPieceLen: Int): DataFrame =
    wt.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, least(length(word), $maxPieceLen)),
           |l -> transform(sequence(1, length(word) - l + 1),
           |s -> substring(word, s, l))))""".stripMargin.replace("\n", " ")))
        .as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  /** The seed vocabulary: top `seedSize` multi-char candidates by
    * (cnt desc, piece asc) — a deterministic total order — plus ALL
    * single characters (guaranteed segmentability; they never compete
    * for the cap). (piece, cnt).
    */
  def seed(wt: DataFrame, maxPieceLen: Int, seedSize: Int): DataFrame = {
    val cand = candidates(wt, maxPieceLen).localCheckpoint()
    cand.filter(length(col("piece")) >= 2)
      .orderBy(desc("cnt"), col("piece")).limit(seedSize)
      .unionByName(cand.filter(length(col("piece")) === 1))
  }

  /** stab(6)'d −ln((cnt+1)/Σ(cnt+1)) as a driver-side cost map — the
    * model state between EM rounds, seedSize-bounded by contract.
    */
  private[graft] def costMap(pieces: Seq[(String, Long)]): Map[String, Double] = {
    val tot = pieces.map(_._2 + 1L).sum.toDouble
    pieces.map { case (p, c) =>
      p -> Stable.stab6(math.log(tot) - math.log((c + 1L).toDouble))
    }.toMap
  }

  /** The row-local Viterbi core: best[j] = min over piece lengths l of
    * (best[j−l].cost + cost(w[j−l..j]), best[j−l].path + " " + piece),
    * minimized under the (cost, path) total order; `excl` (null = none)
    * removes one piece from the vocabulary for the leave-one-out pass.
    * Returns (cost, " "-prefixed path) — path null iff unsegmentable.
    * Unbounded in word length: the arrays size per word.
    */
  /** UTF-16 offsets of each CODEPOINT boundary in `w` (length n+1 for n
    * codepoints) — the DPs index positions by codepoint so Scala and the
    * SQL twins (whose substr/length count codepoints) agree beyond the
    * BMP; for pure-BMP words offs(i) == i and nothing changes.
    */
  private def cpOffsets(w: String): Array[Int] = {
    val buf = new collection.mutable.ArrayBuffer[Int](w.length + 1)
    buf += 0
    var i = 0
    while (i < w.length) {
      i += Character.charCount(w.codePointAt(i))
      buf += i
    }
    buf.toArray
  }

  /** Codepoint count of `w` — the DP/oracle-unroll length unit. */
  private[graft] def cpLen(w: String): Int = w.codePointCount(0, w.length)

  private def viterbiDp(w: String, cm: Map[String, Double],
                        maxPieceLen: Int, excl: String,
                        fbCost: Double = 0.0): (Double, String) = {
    val off = cpOffsets(w)
    val n = off.length - 1
    val cost = new Array[Double](n + 1)
    val path = new Array[String](n + 1)
    path(0) = ""
    var j = 1
    while (j <= n) {
      var bestC = Double.MaxValue
      var bestP: String = null
      var l = math.min(maxPieceLen, j)
      while (l >= 1) {
        val piece = w.substring(off(j - l), off(j))
        if (piece != excl) {
          val c = cm.get(piece)
          if (c.isDefined && path(j - l) != null) {
            val cc = cost(j - l) + c.get
            val pp = path(j - l) + " " + piece
            if (bestP == null || cc < bestC ||
                (cc == bestC && pp.compareTo(bestP) < 0)) {
              bestC = cc; bestP = pp
            }
          }
        }
        l -= 1
      }
      // byte-fallback edge (fbCost > 0): the single char at j always has
      // a path at constant cost ByteFallbackCost — unconditional, because
      // any real piece costs ≤ ln(Σ(cnt+1)) ≪ fbCost and dominates; only
      // genuinely uncoverable chars ride it. Mirrored verbatim in the
      // oracle's fbViterbiCtes unroll.
      if (fbCost > 0 && path(j - 1) != null) {
        val cc = cost(j - 1) + fbCost
        val pp = path(j - 1) + " " + w.substring(off(j - 1), off(j))
        if (bestP == null || cc < bestC ||
            (cc == bestC && pp.compareTo(bestP) < 0)) {
          bestC = cc; bestP = pp
        }
      }
      cost(j) = bestC
      path(j) = bestP
      j += 1
    }
    (cost(n), path(n))
  }

  /** Row-local Viterbi segmentation of every word type. Returns
    * (word, freq, n_pieces, pieces, cost) with pieces space-joined.
    * `assertLen` is the oracle-unroll honesty assert (see Params) —
    * None on the production path.
    */
  def segment(wt: DataFrame, costs: Map[String, Double],
              maxPieceLen: Int, assertLen: Option[Int] = None): DataFrame = {
    val spark = wt.sparkSession
    val bc = spark.sparkContext.broadcast(costs)
    val schema = StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("freq", LongType, nullable = false),
      StructField("n_pieces", IntegerType, nullable = false),
      StructField("pieces", StringType, nullable = false),
      StructField("cost", DoubleType, nullable = false)))
    val maxL = assertLen.getOrElse(Int.MaxValue)
    val out = wt.select("word", "freq").rdd.mapPartitions { rows =>
      val cm = bc.value
      rows.map { r =>
        val w = r.getString(0)
        require(cpLen(w) <= maxL,
          s"word '$w' exceeds the MaxWordLen=$maxL oracle unroll — raise it")
        val (c, p) = viterbiDp(w, cm, maxPieceLen, null)
        // unreachable only under a caller-supplied cost map missing a
        // character — the trained vocabulary always carries all singles
        require(p != null,
          s"word '$w' is not segmentable under the supplied cost map")
        val pieces = p.substring(1) // drop the leading space
        Row(w, r.getLong(1), pieces.count(_ == ' ') + 1, pieces, c)
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** Leave-one-out Viterbi for the pruning loss-deltas: for each input
    * (word, freq, cost, excl) row, the best segmentation cost of `word`
    * with `excl` removed from the vocabulary. Always feasible — `excl`
    * is multi-char and every single survives. Returns
    * (word, excl, freq, cost, alt_cost); `cost` (the base Viterbi cost
    * under the SAME map) passes through so the delta term needs no
    * rejoin.
    */
  def segmentExcl(pairs: DataFrame, costs: Map[String, Double],
                  maxPieceLen: Int): DataFrame = {
    val spark = pairs.sparkSession
    val bc = spark.sparkContext.broadcast(costs)
    val schema = StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("excl", StringType, nullable = false),
      StructField("freq", LongType, nullable = false),
      StructField("cost", DoubleType, nullable = false),
      StructField("alt_cost", DoubleType, nullable = false)))
    val out = pairs.select("word", "excl", "freq", "cost").rdd.mapPartitions { rows =>
      val cm = bc.value
      rows.map { r =>
        val w = r.getString(0)
        val x = r.getString(1)
        val (c, p) = viterbiDp(w, cm, maxPieceLen, x)
        require(p != null,
          s"word '$w' unsegmentable with '$x' excluded — singles missing?")
        Row(w, x, r.getLong(2), r.getDouble(3), c)
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** Hard-EM recount: piece occurrences over the Viterbi paths, weighted
    * by type frequency, over the FIXED seed vocabulary (absent pieces
    * count 0 — the +1 smoothing keeps them alive in the next round).
    */
  def pathCounts(seg: DataFrame, vocab: DataFrame): DataFrame =
    vocab.select("piece").join(
        seg.select(col("freq"),
            explode(split(col("pieces"), " ")).as("piece"))
          .groupBy("piece").agg(sum("freq").as("used")),
        Seq("piece"), "left")
      .select(col("piece"), coalesce(col("used"), lit(0L)).as("cnt"))

  /** The trained model after `iters` hard-EM rounds: (pieces with final
    * recount + stab(6) NLL, the final segmentation of every word type).
    * Driver traffic: one (piece, cnt) collect per round — model-sized.
    */
  def train(docs: DataFrame, p: Params = Params()): (DataFrame, DataFrame) = {
    require(p.iters >= 1, s"ulm needs >= 1 EM round, got ${p.iters}")
    val wt = Bpe.wordTypes(docs).drop("sym").localCheckpoint()
    val vocab = seed(wt, p.maxPieceLen, p.seedSize).localCheckpoint()
    var cm = costMap(vocab.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    var seg: DataFrame = null
    var cnt: DataFrame = null
    var it = 0
    while (it < p.iters) {
      seg = segment(wt, cm, p.maxPieceLen, p.assertMaxWordLen)
      cnt = pathCounts(seg, vocab).localCheckpoint()
      cm = costMap(cnt.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
      it += 1
    }
    val tot = cnt.agg(sum(col("cnt") + lit(1L))).collect()(0).getLong(0).toDouble
    val model = cnt.select(col("piece"), col("cnt"),
      Stable.stab(log(lit(tot)) - log((col("cnt") + lit(1L)).cast("double")), 6)
        .as("nll"))
    (model, seg)
  }

  /** Per-doc subword token counts under the trained model — the ULM twin
    * of Bpe.docTokenCounts: doc tokens join the |types|-sized
    * segmentation table on word.
    */
  def docTokenCounts(docs: DataFrame, seg: DataFrame): DataFrame =
    Search.tokens(docs)
      .join(seg.select(col("word"), col("n_pieces")), "word")
      .groupBy("doc_id")
      .agg(sum(col("n_pieces").cast("long")).as("ulm_tokens"),
        count(lit(1)).cast("long").as("words"))

  /** Per-word-type piece-ID sequences under the trained segmentation —
    * the Bpe.wordIds shape: piece ids row-numbered in binary-collation
    * piece order over the USED vocabulary (bounded — the single-partition
    * window is model-sized, never corpus-sized), each word's pieces
    * mapped through the broadcast id table and reassembled by position.
    */
  def wordIds(seg: DataFrame): DataFrame = {
    val enc = seg.select(col("word"), split(col("pieces"), " ").as("ps"))
      .localCheckpoint()
    enc.select(col("word"), posexplode(col("ps")).as(Seq("pos", "piece")))
      .join(broadcast(pieceIdsFrom(enc)), "piece")
      .groupBy("word")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("id")))),
          x => x("id").cast("string")), " ").as("ids"),
        count(lit(1)).cast("long").as("n_pieces"))
  }

  /** The closed (piece, id) vocabulary of a trained segmentation — ids
    * dense in binary piece order over the USED pieces (bounded, the
    * model artifact TokenStreams freezes).
    */
  def pieceIds(seg: DataFrame): DataFrame =
    pieceIdsFrom(seg.select(col("word"), split(col("pieces"), " ").as("ps")))

  private def pieceIdsFrom(enc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // unpartitioned window, bounded by the model: one row per distinct
    // piece of the trained segmentation (<= the vocabulary size), never
    // by the corpus
    enc.select(explode(col("ps")).as("piece")).distinct()
      .withColumn("id", row_number().over(Window.orderBy("piece")))
  }

  /** Per-word-type id sequences for UNSEEN types under a FIXED model:
    * Viterbi against the frozen cost map RESTRICTED to the closed
    * (piece, id) vocabulary — a piece that was priced but never chosen
    * at train time has no id, and letting the DP pick it would drop a
    * word that has a perfectly representable path. Lenient: a word with
    * an out-of-alphabet character has no path at all and is dropped
    * WHOLE (the closed-vocabulary contract; byte-fallback is the
    * production alternative, documented not implemented). The piece-set
    * collect is model-sized by the tokenizer-artifact contract.
    */
  def wordIdsFromFixed(wt: DataFrame, costs: Map[String, Double],
                       maxPieceLen: Int, pieceIdTable: DataFrame): DataFrame = {
    val inVocab = pieceIdTable.select("piece").collect()
      .map(_.getString(0)).toSet
    segmentLenient(wt, costs.view.filterKeys(inVocab).toMap, maxPieceLen)
      .select(col("word"), posexplode(split(col("pieces"), " "))
        .as(Seq("pos", "piece")))
      .join(broadcast(pieceIdTable), Seq("piece"), "left")
      .groupBy("word")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("id")))),
          x => x("id").cast("string")), " ").as("ids"),
        count(lit(1)).cast("long").as("n_pieces"),
        max(when(col("id").isNull, 1).otherwise(0)).as("oov"))
      .filter(col("oov") === 0)
      .drop("oov")
  }

  /** Constant cost of a byte-fallback char edge — far above any real
    * piece cost (≤ ln(Σ(cnt+1)) ≈ 35 even at 100 TB), so fallback only
    * ever wins where no real path exists. Exact in IEEE-754; both
    * engines fold it identically.
    */
  val ByteFallbackCost = 1000.0

  /** [[segmentLenient]] with the byte-fallback edge: every word segments
    * (OOV chars ride the constant-cost single-char edge and are
    * byte-expanded downstream) — the encode is total, nothing drops.
    * `assertLen` is the oracle-unroll honesty guard (the `segment`
    * discipline): oracle-GATED callers pass the SQL unroll depth so a
    * word the fbViterbiCtes chain cannot represent aborts loudly
    * instead of silently hash-failing; the production path leaves it
    * None (unbounded).
    */
  def segmentFallback(wt: DataFrame, costs: Map[String, Double],
                      maxPieceLen: Int,
                      assertLen: Option[Int] = None): DataFrame = {
    val spark = wt.sparkSession
    val bc = spark.sparkContext.broadcast(costs)
    val schema = StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("freq", LongType, nullable = false),
      StructField("n_pieces", IntegerType, nullable = false),
      StructField("pieces", StringType, nullable = false),
      StructField("cost", DoubleType, nullable = false)))
    val maxL = assertLen.getOrElse(Int.MaxValue)
    val out = wt.select("word", "freq").rdd.mapPartitions { rows =>
      val cm = bc.value
      rows.map { r =>
        val w = r.getString(0)
        require(cpLen(w) <= maxL,
          s"word '$w' exceeds the MaxWordLen=$maxL oracle unroll — raise it")
        val (c, p) = viterbiDp(w, cm, maxPieceLen, null, ByteFallbackCost)
        val pieces = p.substring(1)
        Row(w, r.getLong(1), pieces.count(_ == ' ') + 1, pieces, c)
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** [[wordIdsFromFixed]] with BYTE-FALLBACK (SentencePiece
    * `byte_fallback`; see Bpe.wordIdsFromFixedBytes for the family
    * contract): the DP always finds a path via the fallback edge, a
    * piece with no id in the closed vocabulary expands to UTF-8 byte
    * pieces (ids b0+1+byte), and n_pieces counts fallback pieces at
    * their byte length. Total — no word ever drops.
    */
  def wordIdsFromFixedBytes(wt: DataFrame, costs: Map[String, Double],
                            maxPieceLen: Int, pieceIdTable: DataFrame,
                            assertLen: Option[Int] = None): DataFrame = {
    val inVocab = pieceIdTable.select("piece").collect()
      .map(_.getString(0)).toSet
    val b0 = pieceIdTable.agg(max(col("id")).cast("long").as("b0"))
    segmentFallback(wt, costs.view.filterKeys(inVocab).toMap, maxPieceLen, assertLen)
      .select(col("word"), posexplode(split(col("pieces"), " "))
        .as(Seq("pos", "piece")))
      .join(broadcast(pieceIdTable), Seq("piece"), "left")
      .crossJoin(broadcast(b0))
      .select(col("word"), col("pos"),
        coalesce(col("id").cast("string"),
          ByteFallback.byteIds(col("piece"), col("b0"))).as("ids"),
        when(col("id").isNull, ByteFallback.nBytes(col("piece")))
          .otherwise(1L).as("np"))
      .groupBy("word")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("ids")))),
          x => x("ids")), " ").as("ids"),
        sum(col("np")).as("n_pieces"))
  }

  /** `segment` that DROPS unsegmentable words (an out-of-alphabet
    * character under the supplied cost map) instead of failing — the
    * streaming-OOV contract; the training path keeps the loud require.
    */
  def segmentLenient(wt: DataFrame, costs: Map[String, Double],
                     maxPieceLen: Int): DataFrame = {
    val spark = wt.sparkSession
    val bc = spark.sparkContext.broadcast(costs)
    val schema = StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("freq", LongType, nullable = false),
      StructField("n_pieces", IntegerType, nullable = false),
      StructField("pieces", StringType, nullable = false),
      StructField("cost", DoubleType, nullable = false)))
    val out = wt.select("word", "freq").rdd.mapPartitions { rows =>
      val cm = bc.value
      rows.flatMap { r =>
        val w = r.getString(0)
        val (c, p) = viterbiDp(w, cm, maxPieceLen, null)
        if (p == null) None
        else {
          val pieces = p.substring(1)
          Some(Row(w, r.getLong(1), pieces.count(_ == ' ') + 1, pieces, c))
        }
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** ENCODE under the unigram model — the Bpe.encode contract verbatim:
    * (doc_id, ids, n_ulm_tokens) with `ids` the doc's space-joined
    * piece-id stream in document order. One positioned tokenize + one
    * broadcast join against the bounded word→ids table + one per-doc
    * reassembly; no second shuffle, no driver collect.
    */
  def encode(docs: DataFrame, seg: DataFrame): DataFrame =
    encodeFrom(docs, wordIds(seg))

  /** `encode` against a FIXED (word, ids, n_pieces) table — the
    * train-once/encode-forever split (TokenStreams rides this; see
    * Bpe.encodeFrom).
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
        sum(col("n_pieces")).as("n_ulm_tokens"))
  }

  /** The hard-EM objective per round: (round, total_nll, total_pieces)
    * where total_nll = Σ freq·cost(word's Viterbi path under that
    * round's INPUT costs) — exactly the quantity each DP minimized —
    * and total_pieces the corpus token count under that round's
    * segmentation. Exact-sum discipline: per-word products stab(6)'d
    * then DECIMAL-summed (order-free), so the card hash-gates. Each
    * round's total is one 1-row aggregate collect — metadata-scale.
    * UlmSpec pins the Viterbi-optimality inequality
    * cost(seg₂ | c₁) ≤ cost(seg₁ | c₁) that makes the curve meaningful.
    */
  def emCurve(docs: DataFrame, p: Params = Params()): DataFrame = {
    require(p.iters >= 1, s"ulm needs >= 1 EM round, got ${p.iters}")
    val spark = docs.sparkSession
    val wt = Bpe.wordTypes(docs).drop("sym").localCheckpoint()
    val vocab = seed(wt, p.maxPieceLen, p.seedSize).localCheckpoint()
    var cm = costMap(vocab.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    val rows = (1 to p.iters).map { k =>
      // eager per-round checkpoint: a lazy variant (materialized by the
      // objective collect) was measured SLOWER on the quiet pair
      // (ulm_em_curve 0.82 -> 0.96 s) — reverted
      val seg = segment(wt, cm, p.maxPieceLen, p.assertMaxWordLen).localCheckpoint()
      val t = seg.agg(
          Stable.dsum(Stable.stab(col("freq") * col("cost"), 6), 6).as("t"),
          sum(col("freq") * col("n_pieces")).as("pc"))
        .collect()(0)
      cm = costMap(pathCounts(seg, vocab).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq)
      (k, t.getDouble(0), t.getLong(1))
    }
    import spark.implicits._
    rows.toDF("round", "total_nll", "total_pieces")
  }

  // ==================== SOFT EM (forward-backward) ====================
  // Kudo 2018 §4.2 PROPER: the E-step takes expectations over ALL
  // segmentations of each word (forward-backward on the piece lattice),
  // not just the Viterbi path — closing §2.9's "hard-EM only" caveat.
  //
  // Cross-engine float discipline (the reason this hash-gates): the
  // lattice runs in PROBABILITY space with stab(12)-quantized piece
  // probabilities (stab(6) would crush p ≈ 10⁻⁶ pieces; headroom
  // contract: the grid dies at Σ(cnt+1) ≳ 10¹² — raise the digits for a
  // corpus beyond that); every α/β cell is a fixed ASCENDING-l left-fold
  // of products (the SQL twin writes the same + chain, so the IEEE
  // sequences are identical); each edge posterior contribution is
  // stab(6)'d per (word, position, piece) row and DECIMAL-summed —
  // order-free — into soft counts; totals Σ(e+1) go through exact
  // micro-unit integer arithmetic on both sides.

  // the documented grid cliff, enforced LOUDLY: beyond this total the
  // stab(12) quantization of p = (c+1)/tot collapses small pieces to 0
  // and the oracle drifts silently — fail at the source instead
  private def requireGridHeadroom(tot: Double): Unit =
    require(tot < 1e12,
      f"soft-EM stab(12) grid overflow: piece-count total $tot%.3g >= 1e12 — " +
        "raise the probability-grid digits (stab12 -> stab15) in BOTH engines")

  /** stab(12)-quantized piece probabilities from integer seed counts. */
  private[graft] def probMap0(pieces: Seq[(String, Long)]): Map[String, Double] = {
    val tot = pieces.map(_._2 + 1L).sum.toDouble
    requireGridHeadroom(tot)
    pieces.map { case (p, c) =>
      p -> Stable.stab12((c + 1L).toDouble / tot)
    }.toMap
  }

  /** stab(12)-quantized piece probabilities from SOFT (stab(6)-grid)
    * counts; the total Σ(e+1) is computed in exact micro-units.
    */
  private[graft] def probMapSoft(pieces: Seq[(String, Double)]): Map[String, Double] = {
    val micros = pieces.map { case (_, e) => math.floor(e * 1e6 + 0.5).toLong }.sum
    val tot = (micros + pieces.size * 1000000L).toDouble / 1e6
    requireGridHeadroom(tot)
    pieces.map { case (p, e) =>
      p -> Stable.stab12((e + 1.0) / tot)
    }.toMap
  }

  /** Row-local forward/backward over one word's piece lattice: α(j) =
    * Σ_l α(j−l)·p(w[j−l..j]) and β(j) = Σ_l β(j+l)·p(w[j..j+l]), both
    * folded in ascending l (the SQL twin's + chain order). Returns
    * (α, β) arrays of length n+1.
    */
  private def lattice(w: String, pm: Map[String, Double],
                      maxPieceLen: Int): (Array[Double], Array[Double]) = {
    val off = cpOffsets(w)
    val n = off.length - 1
    val a = new Array[Double](n + 1)
    a(0) = 1.0
    var j = 1
    while (j <= n) {
      var s = 0.0
      var l = 1
      val lm = math.min(maxPieceLen, j)
      while (l <= lm) {
        val p = pm.getOrElse(w.substring(off(j - l), off(j)), -1.0)
        if (p >= 0) s += a(j - l) * p
        l += 1
      }
      a(j) = s
      j += 1
    }
    val b = new Array[Double](n + 1)
    b(n) = 1.0
    j = n - 1
    while (j >= 0) {
      var s = 0.0
      var l = 1
      val lm = math.min(maxPieceLen, n - j)
      while (l <= lm) {
        val p = pm.getOrElse(w.substring(off(j), off(j + l)), -1.0)
        if (p >= 0) s += b(j + l) * p
        l += 1
      }
      b(j) = s
      j -= 1
    }
    (a, b)
  }

  /** Per-word marginal likelihoods under the current probabilities:
    * (word, freq, an) with an = α(n) = P(word | model), the soft
    * objective's per-type term. Row-local.
    */
  def marginals(wt: DataFrame, probs: Map[String, Double],
                maxPieceLen: Int, assertLen: Option[Int] = None): DataFrame = {
    val spark = wt.sparkSession
    val bc = spark.sparkContext.broadcast(probs)
    val schema = StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("freq", LongType, nullable = false),
      StructField("an", DoubleType, nullable = false)))
    val maxL = assertLen.getOrElse(Int.MaxValue)
    val out = wt.select("word", "freq").rdd.mapPartitions { rows =>
      val pm = bc.value
      rows.map { r =>
        val w = r.getString(0)
        require(cpLen(w) <= maxL,
          s"word '$w' exceeds the MaxWordLen=$maxL oracle unroll — raise it")
        val (a, _) = lattice(w, pm, maxPieceLen)
        require(a(cpLen(w)) > 0, s"word '$w' has no lattice path — singles missing?")
        Row(w, r.getLong(1), a(cpLen(w)))
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** E-step edge posteriors: one row per (word, start, piece) lattice
    * edge with its stab(6)'d expected-count contribution
    * freq·α(i)·p·β(i+l)/α(n). Row-local; the downstream DECIMAL sum is
    * order-free, so nothing about partitioning can move the gate.
    */
  def softEdges(wt: DataFrame, probs: Map[String, Double],
                maxPieceLen: Int, assertLen: Option[Int] = None): DataFrame = {
    val spark = wt.sparkSession
    val bc = spark.sparkContext.broadcast(probs)
    val schema = StructType(Seq(
      StructField("piece", StringType, nullable = false),
      StructField("c", DoubleType, nullable = false)))
    val maxL = assertLen.getOrElse(Int.MaxValue)
    val out = wt.select("word", "freq").rdd.mapPartitions { rows =>
      val pm = bc.value
      rows.flatMap { r =>
        val w = r.getString(0)
        require(cpLen(w) <= maxL,
          s"word '$w' exceeds the MaxWordLen=$maxL oracle unroll — raise it")
        val freq = r.getLong(1)
        val off = cpOffsets(w)
        val n = off.length - 1
        val (a, b) = lattice(w, pm, maxPieceLen)
        require(a(n) > 0, s"word '$w' has no lattice path — singles missing?")
        val an = a(n)
        for {
          i <- 0 until n
          l <- 1 to math.min(maxPieceLen, n - i)
          piece = w.substring(off(i), off(i + l))
          p <- pm.get(piece)
        } yield Row(piece, Stable.stab6(freq * a(i) * p * b(i + l) / an))
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** M-step soft recount over the FIXED seed vocabulary: (piece, e) with
    * e the order-free DECIMAL sum of edge contributions (absent → 0).
    */
  def softCounts(wt: DataFrame, probs: Map[String, Double],
                 maxPieceLen: Int, vocab: DataFrame,
                 assertLen: Option[Int] = None): DataFrame =
    vocab.select("piece").join(
        softEdges(wt, probs, maxPieceLen, assertLen)
          .groupBy("piece").agg(Stable.dsum(col("c"), 6).as("e")),
        Seq("piece"), "left")
      .select(col("piece"), coalesce(col("e"), lit(0.0)).as("e"))

  /** Upper bound on the wait for the concurrent half of [[alongside]]. */
  val ConcurrentTimeout: FiniteDuration = 30.minutes

  /** Runs `a` on a dedicated one-thread pool while the caller runs `b`,
    * and returns both results. The pool is shut down on return, and the
    * wait for `a` is bounded: past [[ConcurrentTimeout]] it fails with an
    * error that names `what`. For independent driver loops whose jobs
    * back-fill each other's scheduler gaps; each half's values are its
    * own, so running them together cannot change them.
    */
  private[graft] def alongside[A, B](what: String)(a: => A)(b: => B): (A, B) = {
    val pool = Executors.newSingleThreadExecutor()
    try {
      val fa = Future(a)(ExecutionContext.fromExecutorService(pool))
      val rb = b
      val ra = try Await.result(fa, ConcurrentTimeout) catch {
        case _: TimeoutException => throw new TimeoutException(
          s"$what: the concurrent half did not finish within $ConcurrentTimeout")
      }
      (ra, rb)
    } finally pool.shutdownNow()
  }

  /** The soft-EM trainer: `iters` forward-backward rounds from the same
    * seed as [[train]]. Returns (model (piece, cnt_soft, nll), curve
    * (round, total_nll_soft)) — total_nll_soft = Σ freq·(−ln α(n)) under
    * that round's INPUT probabilities, the marginal-likelihood objective
    * the E-step optimizes (≤ the Viterbi NLL of ulm_em_curve by
    * construction — UlmSoftSpec pins the inequality). Driver traffic per
    * round: one model-sized (piece, e) collect + one 1-row NLL collect.
    */
  def softTrain(docs: DataFrame, p: Params = Params()): (DataFrame, DataFrame) = {
    require(p.iters >= 1, s"ulm needs >= 1 EM round, got ${p.iters}")
    val spark = docs.sparkSession
    val wt = Bpe.wordTypes(docs).drop("sym").localCheckpoint()
    val vocab = seed(wt, p.maxPieceLen, p.seedSize).localCheckpoint()
    var pm = probMap0(vocab.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    var e: Seq[(String, Double)] = null
    var eDf: DataFrame = null
    // Round-19 job fusion (§2.6 overlap): the round's objective collect
    // (marginals) and E-step recount (softCounts) are INDEPENDENT reads
    // under the same round-input probabilities — run them from two
    // driver threads so one job's scheduler tail back-fills the other.
    // Neither depends on the other's result, so values are untouched.
    val curve = (1 to p.iters).map { k =>
      val pmRound = pm
      val (nll, eRound) = alongside(s"Ulm.softTrain round $k") {
        marginals(wt, pmRound, p.maxPieceLen, p.assertMaxWordLen)
          .agg(Stable.dsum(Stable.stab(col("freq") * -log(col("an")), 6), 6))
          .collect()(0).getDouble(0)
      } {
        val eRound = softCounts(wt, pmRound, p.maxPieceLen, vocab, p.assertMaxWordLen)
          .localCheckpoint(false) // lazy: materialized by the collect below
        e = eRound.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        eRound
      }
      eDf = eRound
      pm = probMapSoft(e)
      (k, nll)
    }
    val micros = e.map { case (_, ev) => math.floor(ev * 1e6 + 0.5).toLong }.sum
    val tot = (micros + e.size * 1000000L).toDouble / 1e6
    val model = eDf.select(col("piece"), col("e").as("cnt_soft"),
      Stable.stab(log(lit(tot)) - log(col("e") + lit(1.0)), 6).as("nll"))
    import spark.implicits._
    (model, curve.toDF("round", "total_nll_soft"))
  }

  /** Tokenizer fertility by source under the unigram model — the
    * Bpe.sourceFertility diagnostic for the OTHER family: with both
    * cards registered, the mixing planner can compare the two
    * vocabularies' compression per corpus slice directly.
    */
  def sourceFertility(docs: DataFrame, seg: DataFrame): DataFrame = {
    val perDoc = docTokenCounts(docs, seg)
    docs.select("doc_id", "source")
      .join(perDoc, "doc_id")
      .groupBy("source")
      .agg(sum("words").as("n_words"), sum("ulm_tokens").as("n_ulm_tokens"))
      .withColumn("fertility", Stable.stab(
        col("n_ulm_tokens").cast("double") / col("n_words").cast("double"), 6))
  }

  /** The likelihood-loss pruning schedule (Kudo 2018 §4.2's sub-iteration
    * — the operation that makes a unigram tokenizer answer "give me a
    * TARGET-size vocabulary"): starting from trained recounts `cnt0`,
    * each round (a) Viterbi-segments all types under the current costs
    * (the EM step's E), (b) recounts (the M), (c) scores every multi-char
    * piece q by the loss delta Σ_w freq·(cost(w | V∖{q}) − cost(w | V))
    * over the words whose path uses q — a leave-one-out DP per
    * (word, used-piece) pair, |types|×avg-path-pieces rows, never
    * corpus-scale — and (d) drops the schedule's count of lowest-delta
    * pieces ((delta, piece) total order; unused pieces delta 0 go first),
    * renormalizing costs over the survivors. After the loop one final
    * Viterbi pass yields the pruned model's segmentation and card.
    *
    * Cross-engine exactness: alt and base costs are left-folds of the
    * same stab(6) piece costs (identical IEEE sequences), their
    * difference is one exact subtraction, and each delta is a
    * stab(6)+DECIMAL order-free sum — so the drop RANKING, and therefore
    * every downstream cost table, hash-matches the unrolled-CTE oracle.
    * Driver traffic per round: one model-sized recount collect + one
    * nDrop-sized dropped-piece collect (the k×dim metadata contract).
    *
    * `expectMulti0`: the oracle-anchor require — the static schedule both
    * engines walk assumes the seed's multi-char cap was FILLED; a fixture
    * where it isn't fails loudly instead of diverging.
    *
    * Returns card (piece, cnt, nll), final segmentation, curve, and the
    * cost map the final segmentation was computed under (what UlmSpec's
    * brute-force optimality check prices against): curve row r =
    * (round, n_multi, n_vocab, total_nll, total_pieces) describes the
    * vocabulary INPUT to round r's Viterbi pass and that pass's corpus
    * objective — the last row is the pruned model itself.
    */
  final case class PruneResult(card: DataFrame, seg: DataFrame,
                               curve: DataFrame, finalCosts: Map[String, Double])

  def pruneFrom(wt: DataFrame, cnt0: DataFrame, p: Params, pp: PruneParams,
                expectMulti0: Option[Int] = None): PruneResult = {
    val vocab: Seq[(String, Long)] = cnt0.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    pruneLoop(wt, vocab.map(_._1), costMap(vocab), p, pp, expectMulti0)
  }

  /** [[pruneFrom]] with SOFT-EM entry pricing — the SentencePiece
    * composition proper (EM with full-lattice expectations, THEN the
    * likelihood-loss drop schedule): the entry cost table is the soft
    * model's stab(6) NLL column (−ln((e+1)/Σ(e+1)) over the DECIMAL soft
    * counts) instead of hard Viterbi recounts, so the FIRST round's
    * leave-one-out pricing — the round that drops half the seed — ranks
    * pieces by what the full segmentation lattice says they are worth.
    * In-loop re-estimates stay Viterbi recounts (each survivor set gets
    * re-priced from its own hard paths — the delta formula is
    * count-source-agnostic), honestly documented in SURVEY §2.9.
    * Input: the soft model card (piece, cnt_soft, nll).
    */
  def pruneFromSoft(wt: DataFrame, softModel: DataFrame, p: Params,
                    pp: PruneParams, expectMulti0: Option[Int] = None): PruneResult = {
    val rows = softModel.select("piece", "nll").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    pruneLoop(wt, rows.map(_._1), rows.toMap, p, pp, expectMulti0)
  }

  private def pruneLoop(wt: DataFrame, pieces0: Seq[String],
                        cm0: Map[String, Double], p: Params, pp: PruneParams,
                        expectMulti0: Option[Int]): PruneResult = {
    val spark = wt.sparkSession
    import spark.implicits._
    var vocabPieces: Seq[String] = pieces0
    // codepoint length, NOT String.length: a single astral piece (1
    // codepoint, 2 UTF-16 units) is a SINGLE — it must never enter the
    // drop pool (singles guarantee segmentability) and the SQL oracle's
    // mv0 counts codepoints
    var nMulti = vocabPieces.count(cpLen(_) >= 2)
    expectMulti0.foreach(e => require(nMulti == e,
      s"pruning anchor: trained vocab has $nMulti multi-char pieces, oracle schedule assumes $e"))
    val schedule = pruneSchedule(nMulti, pp)
    var cm = cm0
    val curve = Seq.newBuilder[(Int, Int, Int, Double, Long)]

    def segStats(seg: DataFrame): (Double, Long) = {
      val r = seg.agg(
        Stable.dsum(Stable.stab(col("freq") * col("cost"), 6), 6).as("t"),
        sum(col("freq") * col("n_pieces")).as("pc")).collect()(0)
      (r.getDouble(0), r.getLong(1))
    }

    // Round-19 NEGATIVE results, both reverted (don't redo): (a) per-round
    // overlap — recount + drop-pick collects from two inner futures
    // (§2.6) — regressed ulm_prune_soft_vs_hard 1.96 → 3.95 s where it
    // nested under that query's two concurrent outer loops, while buying
    // nothing single-loop (ulm_vocab_pruned 0.99×); (b) LAZY per-round
    // seg checkpoints (the Dedup.clusters discipline) — measured slower
    // than eager on this loop's mapPartitions-built seg (ulm_em_curve
    // 0.82 → 0.96 s on the quiet pair).
    var round = 1
    schedule.foreach { nDrop =>
      val seg = segment(wt, cm, p.maxPieceLen, p.assertMaxWordLen).localCheckpoint()
      val (nll, pc) = segStats(seg)
      curve += ((round, nMulti, vocabPieces.size, nll, pc))
      // EM recount over the PRE-drop vocabulary (the M step); survivors
      // keep these counts into the renormalized next-round costs
      val cntMap = pathCounts(seg, vocabPieces.toDF("piece")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      // leave-one-out deltas over each word's USED multi-char pieces
      val pairs = seg.select(col("word"), col("freq"), col("cost"),
        explode(array_distinct(filter(split(col("pieces"), " "),
          x => length(x) >= 2))).as("excl"))
      val deltaUsed = segmentExcl(pairs, cm, p.maxPieceLen)
        .groupBy("excl")
        .agg(Stable.dsum(Stable.stab(
          col("freq") * (col("alt_cost") - col("cost")), 6), 6).as("delta"))
      val dropped = vocabPieces.filter(cpLen(_) >= 2).toDF("piece")
        .join(deltaUsed.withColumnRenamed("excl", "piece"), Seq("piece"), "left")
        .select(col("piece"), coalesce(col("delta"), lit(0.0)).as("delta"))
        .orderBy(col("delta"), col("piece")).limit(nDrop)
        .select("piece").collect().map(_.getString(0)).toSet
      vocabPieces = vocabPieces.filterNot(dropped)
      cm = costMap(vocabPieces.map(pc0 => (pc0, cntMap(pc0))))
      nMulti -= nDrop
      round += 1
    }
    // the pruned model: one final Viterbi pass + recount + cost card
    val segF = segment(wt, cm, p.maxPieceLen, p.assertMaxWordLen).localCheckpoint()
    val (nllF, pcF) = segStats(segF)
    curve += ((round, nMulti, vocabPieces.size, nllF, pcF))
    val cntF = pathCounts(segF, vocabPieces.toDF("piece")).localCheckpoint()
    val tot = cntF.agg(sum(col("cnt") + lit(1L)).as("t"))
    val card = cntF.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        Stable.stab(log(col("t").cast("double")) -
          log((col("cnt") + lit(1L)).cast("double")), 6).as("nll"))
    PruneResult(card, segF,
      curve.result().toDF("round", "n_multi", "n_vocab", "total_nll", "total_pieces"),
      cm)
  }

  /** Train + prune in one call — the "give me a target-size vocabulary"
    * entry point.
    */
  def pruneTrain(docs: DataFrame, p: Params = Params(),
                 pp: PruneParams = PruneParams()): PruneResult = {
    val wt = Bpe.wordTypes(docs).drop("sym").localCheckpoint()
    val vocab = seed(wt, p.maxPieceLen, p.seedSize)
    var cm = costMap(vocab.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    var cnt: DataFrame = null
    var it = 0
    while (it < p.iters) {
      cnt = pathCounts(segment(wt, cm, p.maxPieceLen, p.assertMaxWordLen), vocab)
        .localCheckpoint()
      cm = costMap(cnt.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
      it += 1
    }
    pruneFrom(wt, cnt, p, pp)
  }
}
