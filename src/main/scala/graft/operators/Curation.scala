package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The end-to-end curation decision — the single operation a training-data
  * pipeline actually ships: one declarative plan that composes every keep
  * signal this library computes into the final training-corpus keep list.
  *
  * A document survives iff ALL of:
  *   - it is in the training split (doc_id >= evalMax; below is the held
  *     eval set everything is decontaminated against),
  *   - the C4-style clean gates pass (length floor, quality floor,
  *     language gate — TextAnalysis.cleanCorpus, one hash aggregate),
  *   - its repeated-3-gram ratio is at most maxRep (boilerplate gate),
  *   - its bigram-LM mean NLL is at most maxNll (gibberish gate, scored
  *     against a pre-trained model so curation never re-trains),
  *   - it shares at most maxContam distinct 3-shingles with the eval set
  *     (a COUNT threshold, not any-overlap: chance shingle collisions are
  *     ubiquitous — the median train doc here shares 1-2 — while verbatim
  *     leaks share tens; production pipelines use long n-grams for the
  *     same reason),
  *   - it is its near-dup cluster's representative (min-doc_id member) or
  *     clusters with nobody.
  *
  * Scale shape: every signal is a narrow explode + one doc_id-keyed hash
  * aggregate over the corpus (partial aggs map-side), the eval shingle set
  * is eval-sized and broadcast, the near-dup graph rides the banded-LSH
  * pair generator — nothing here is quadratic in the corpus, and the final
  * decision is doc_id-keyed joins of aggregate-sized tables. At 100 TB a
  * pipeline would persist each signal column once and re-join; the plan
  * below IS that dataflow, just unmaterialized.
  */
object Curation {

  /** @param docs   the documents table
    * @param sh     (doc_id, shingle) — the shared persisted shingle table
    * @param lm     pre-trained bigram LM (TextAnalysis.bigramLm layout)
    * @param pairs  verified near-dup pairs (doc_a, doc_b, jaccard)
    */
  def curate(docs: DataFrame, sh: DataFrame, lm: DataFrame, pairs: DataFrame,
             evalMax: Long = 10, maxRep: Double = 0.05, maxNll: Double = 3.45,
             maxContam: Long = 4): DataFrame = {
    import graft.functions.TextOps
    // Round-19 restructure (guide §1.2, measured branch by branch at
    // sf0.1): the CLEAN signal is a per-doc function of the kept-token
    // array, so it is computed row-locally — one projection instead of a
    // tokenize + doc_id hash aggregate (0.58 s vs 1.29 s for the
    // aggregate pass over the same Spread input). Values are
    // bit-identical (the cleanGate ≡ cleanCorpus equivalence
    // CurationSpec pins: countDistinct ≡ size(array_distinct),
    // count ≡ size, sum(when) ≡ size(filter), same single IEEE
    // divisions). Repetition deliberately stays the AGGREGATE form: a
    // fully row-local variant computing clean AND the 3-gram ratio in
    // one projection was implemented and measured SLOWER than the two
    // passes it replaced (2.4 s vs 1.4 s — the HOF-heavy projection
    // re-evaluates the shared token array across consumers), so only
    // the clean pass moved.
    val arrAll = TextOps.splitWords(TextOps.normalize(col("text")))
    val base = docs
      .filter(col("doc_id") >= evalMax)
      .select(col("doc_id"), arrAll.as("aa"))
      .withColumn("ak", filter(col("aa"), w => TextOps.isKeptToken(w)))
    val (nTokens, quality, stopwordRatio) = TextAnalysis.cleanFeatures(col("ak"))
    val clean = base
      .select(col("doc_id"), nTokens.as("n_tokens"),
        quality.as("quality"), stopwordRatio.as("stopword_ratio"))
      // cleanCorpus's gates: length floor, quality floor, language gate
      .filter(col("n_tokens") >= TextAnalysis.CleanMinTokens &&
        col("quality") >= TextAnalysis.CleanMinQuality &&
        col("stopword_ratio") >= TextAnalysis.CleanLangThreshold)
      .select("doc_id", "n_tokens", "quality")
    val rep = TextAnalysis.repetition(docs).select(col("doc_id"), col("rep_ratio"))
    val nll = TextAnalysis
      .bigramNllFrom(TextAnalysis.bigramStream(docs), lm)
      .select(col("doc_id"), col("avg_nll"))
    val bench = sh.filter(col("doc_id") < evalMax).select("shingle").distinct()
    val contam = sh.filter(col("doc_id") >= evalMax)
      .join(broadcast(bench), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      .filter(col("n_contaminated") > maxContam)
      .select("doc_id")
    val dupDrop = Dedup.clusters(pairs)
      .filter(col("doc_id") =!= col("keep_id")).select("doc_id")
    clean
      .join(rep, "doc_id").join(nll, "doc_id")
      .filter(col("rep_ratio") <= maxRep && col("avg_nll") <= maxNll)
      .join(contam, Seq("doc_id"), "left_anti")
      .join(dupDrop, Seq("doc_id"), "left_anti")
      .select("doc_id", "n_tokens", "quality", "rep_ratio", "avg_nll")
  }

  /** Weighted source mixing — the data-mixing step every training run
    * does after curation: draw a deterministic per-source quota from the
    * corpus so the output hits target proportions. Selection is by
    * content-hash order within each source (the same reproducible-shuffle
    * discipline as text_sample_hash: identical survivors on any cluster,
    * any run), so re-weighting a 100 TB corpus is one distributed rank
    * per source — no global sort, no rand(). Over-asked quotas
    * truncate at the source's size (a short source simply contributes
    * everything it has). Returns (doc_id, source, rk) — rk the doc's
    * 1-based position in its source's hash order.
    */
  def mixBySource(docs: DataFrame, weights: Map[String, Double],
                  total: Int): DataFrame =
    takeQuotas(docs, quotaTable(docs, weights, total, "quota"))

  /** (source, `name`) = ⌊weight · total⌋ per source. The floor carries an
    * epsilon: plain floor(w·total) under-counts when the product lands one
    * ulp below its decimal value (0.29 × 100 = 28.999999999999996 → 28,
    * not the intended 29); the epsilon is far above double noise and far
    * below any honest fractional quota.
    */
  private def quotaTable(docs: DataFrame, weights: Map[String, Double],
                         total: Long, name: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    weights.toSeq
      .map { case (s, w) => (s, math.floor(w * total + 1e-9).toLong) }
      .toDF("source", name)
  }

  /** Temperature-smoothed source mixing — the multilingual-LM sampling
    * scheme (exponential smoothing, Lample & Conneau 2019): quota_s ∝
    * count_s^α with α = 1/T < 1, which up-weights small sources relative
    * to their raw share (α → 0 is uniform-over-sources, α = 1 is
    * natural). Unlike mixBySource the quotas are computed IN-PLAN from
    * the observed per-source counts: one |sources|-row aggregate, pow
    * through stab(6) (collapsing libm last-ulp spread so DuckDB's pow
    * agrees), the normalizer via dsum (exact decimal, order-independent
    * over the ≤|sources| stab'd weights), then the same skew-safe
    * hash-order rank. Survivor sets are therefore
    * deterministic and hash-gated end to end, including the quota
    * arithmetic itself.
    */
  def mixByTemperature(docs: DataFrame, alpha: Double, total: Long): DataFrame = {
    import graft.functions.Stable
    val pw = docs.groupBy("source")
      .agg(count(lit(1)).as("c"))
      .select(col("source"),
        Stable.stab(pow(col("c").cast("double"), lit(alpha)), 6).as("pw"))
      .localCheckpoint() // ≤|sources| rows; read by the normalizer AND the probe
    val tw = pw.agg(Stable.dsum(col("pw"), 6).as("tw")) // 1 row, exact sum
    val quotas = pw.crossJoin(broadcast(tw))
      .select(col("source"),
        floor(col("pw") / col("tw") * total + lit(1e-9)).cast("long").as("quota"))
    takeQuotas(docs, quotas)
  }

  /** Shared tail of the mixing family: keep the first `quota_s` docs of
    * each source in salted-hash order. The per-source rank is
    * [[Ranks.position]] (one source can be half a crawl); the oracle runs
    * the plain window.
    */
  private def takeQuotas(docs: DataFrame, quotas: DataFrame): DataFrame = {
    val t = docs.join(broadcast(quotas), "source")
      .withColumn("h", md5(col("doc_id").cast("string")))
    Ranks.position(t, Seq("source"), Seq("h", "doc_id"), 1, "rk")
      .filter(col("rk") <= col("quota"))
      .select("doc_id", "source", "rk")
  }

  /** Deterministic train/validation/test assignment: each doc hashes into
    * a 16-bit space under a dedicated salt ("split:", independent of the
    * sampling and shuffle hashes) and lands in the first split whose
    * cumulative threshold covers it. Content-hash splitting is the
    * reproducible discipline every training pipeline needs — the same doc
    * lands in the same split on any cluster, any run, and adding docs
    * never moves existing ones across splits (no rand(), no global
    * count). Row-local — one projection, no shuffle.
    *
    * @param splits (name, weight) in order; weights need not sum to 1 —
    *               the last split absorbs the remainder of the hash space
    */
  def assignSplits(docs: DataFrame,
                   splits: Seq[(String, Double)]): DataFrame = {
    val h = conv(substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long") // 0..65535
    val cuts = splits.init.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.floor(c * 65536).toLong)
    val expr = splits.init.zip(cuts).foldRight(
        lit(splits.last._1): Column) { case (((name, _), cut), rest) =>
      when(h < cut, name).otherwise(rest)
    }
    docs.select(col("doc_id"), expr.as("split"))
  }

  /** Token-weighted source mixing — the budget a training run actually
    * targets is TOKENS per source, not documents: each source keeps its
    * content-hash-order prefix of docs whose running token total stays
    * within the source's token quota (a doc survives iff its inclusive
    * running sum ≤ quota; the first over-budget doc is dropped whole —
    * packing handles intra-doc splits downstream). Same reproducible
    * ordering discipline as [[mixBySource]]; the running sum is
    * [[Ranks.runningSum]]. Returns (doc_id, source, n_tok, cum).
    */
  def mixByTokens(docs: DataFrame, weights: Map[String, Double],
                  totalTokens: Long): DataFrame = {
    val quotas = quotaTable(docs, weights, totalTokens, "tok_quota")
    // ONE corpus tokenize: the (doc_id, n_tok) projection feeds both the
    // bucket-offset aggregate and the rank side of Ranks — localCheckpoint it
    // (the Selection.weights single-scan discipline) so the expensive
    // tokenize+aggregate never runs twice. mixBySource deliberately does
    // NOT checkpoint: its shared subtree is a column-pruned scan plus a
    // row-local md5, cheaper to recompute than to materialize.
    val counts = TextAnalysis.tokenCounts(docs)
      .select(col("doc_id"), col("alnum_tokens").as("n_tok"))
      .localCheckpoint()
    val t = counts
      .join(docs.select("doc_id", "source"), "doc_id")
      .join(broadcast(quotas), "source")
      .withColumn("h", md5(col("doc_id").cast("string")))
    Ranks.runningSum(t, Seq("source"), Seq("h", "doc_id"), 1, col("n_tok"), "cum")
      .filter(col("cum") <= col("tok_quota"))
      .select("doc_id", "source", "n_tok", "cum")
  }

  /** Inter-source shingle containment matrix — the data-mixing
    * diagnostic behind weight choices: how much of source A's distinct
    * content already appears in source B (directed, so a small source
    * swallowed by a crawl shows containment → 1 in one direction only).
    * Operates on the persisted 60-bit shingle-KEY table (same fixed-width
    * join currency as the Jaccard verifies — no string joins).
    *
    * Scale shape: distinct (source, shk) is one hash aggregate over the
    * key table; the pair counts come from a self equi-join ON shk whose
    * per-key fan-out is bounded by the number of sources (tens, not
    * corpus-sized), so the join output is ≤ |sources|² rows per distinct
    * shingle and the result is |sources|² rows total. Nothing here scales
    * with corpus size except the one aggregate pass.
    *
    * @param docs the documents table (doc_id, source)
    * @param shk  (doc_id, shk) — persisted shingle keys
    * @return (src_a, src_b, n_shared, n_a, containment), pairs with zero
    *         overlap omitted
    */
  def sourceOverlap(docs: DataFrame, shk: DataFrame): DataFrame = {
    val ss = shk.join(docs.select("doc_id", "source"), "doc_id")
      .select(col("source"), col("shk")).distinct()
    val n = ss.groupBy("source").agg(count(lit(1)).as("n_a"))
    val a = ss.toDF("src_a", "shk")
    val b = ss.toDF("src_b", "shk")
    a.join(b, "shk").filter(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .join(n.toDF("src_a", "n_a"), "src_a")
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        (col("n_shared").cast("double") / col("n_a")).as("containment"))
  }

  /** Deterministic training-epoch shuffle: every epoch assigns each doc a
    * global position by content-hash order under an epoch-salted key —
    * the reproducible alternative to rand() shuffling (identical order on
    * any cluster, any run, any partitioning), with epochs decorrelated by
    * the salt. The per-epoch rank is [[Ranks.position]], so no window
    * sees a whole epoch. Returns (epoch, pos, doc_id), pos 1-based and
    * dense per epoch.
    */
  def epochShuffle(docs: DataFrame, nEpochs: Int): DataFrame = {
    val spark = docs.sparkSession
    val epochs = spark.range(nEpochs).select(col("id").cast("int").as("epoch"))
    val t = docs.select(col("doc_id")).crossJoin(broadcast(epochs))
      .withColumn("h", md5(concat(col("epoch").cast("string"), lit(":"),
        col("doc_id").cast("string"))))
    Ranks.position(t, Seq("epoch"), Seq("h", "doc_id"), 1, "pos")
      .select("epoch", "pos", "doc_id")
  }

  /** Token-budget sequence packing (concat-and-chunk, the GPT-style
    * pre-training layout): documents are laid out in content-hash order
    * and cut into fixed-budget chunks; a doc belongs to the chunk its
    * first token lands in. The global exclusive prefix-sum over token
    * counts is [[Ranks.runningSum]], not a single-partition window of the
    * corpus. Token counts are
    * the BPE-ish alnum proxy (TextAnalysis.tokenCounts). Returns one row
    * per chunk: (seq_id, n_docs, n_tokens).
    */
  def packSequences(docs: DataFrame, budget: Long): DataFrame =
    packAssignments(docs, budget)
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))

  /** [[packSequences]] over a caller-supplied (doc_id, n_tok) table. */
  def packSequencesFrom(counts: DataFrame, budget: Long): DataFrame =
    packAssignmentsFrom(counts, budget)
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))

  /** Per-doc packing frame behind [[packSequences]] — the layout a data
    * loader actually consumes: each doc's chunk id and its global token
    * offset in the concatenated stream. (doc_id, n_tok, start, seq_id).
    */
  def packAssignments(docs: DataFrame, budget: Long): DataFrame =
    packAssignmentsFrom(
      TextAnalysis.tokenCounts(docs)
        .select(col("doc_id"), col("alnum_tokens").as("n_tok")), budget)

  /** [[packAssignments]] over a caller-supplied (doc_id, n_tok) budget
    * table — the hook that lets packing consume the REAL tokenizer's
    * counts (Bpe.docTokenCounts) instead of whitespace proxies; same
    * distributed prefix-sum, same layout out.
    */
  def packAssignmentsFrom(counts: DataFrame, budget: Long): DataFrame = {
    // start = the tokens of every earlier doc: the inclusive sum less the
    // doc's own, a null sum or n_tok counting 0
    val t = counts.withColumn("h", md5(col("doc_id").cast("string")))
    Ranks.runningSum(t, Nil, Seq("h", "doc_id"), 1, col("n_tok"), "cum")
      .withColumn("start", coalesce(col("cum"), lit(0L)) - coalesce(col("n_tok"), lit(0L)))
      .withColumn("seq_id", expr(s"start div ${budget}L")) // long integral div — exact at any magnitude
      .select("doc_id", "n_tok", "start", "seq_id")
  }

  /** One FFD placement segment: ranks rlo..rhi of class `cls` fill bins
    * fbin, fbin+1, … at `q` items per bin (the last possibly partial).
    */
  final case class PackSeg(cls: Long, rlo: Long, rhi: Long, fbin: Long, q: Long)

  /** First-fit-decreasing over a LENGTH-CLASS HISTOGRAM — the scalable
    * reformulation of per-item FFD (Krell et al. 2021's histogram
    * insight): with items quantized to ≤ budget/classWidth classes, FFD's
    * bin state collapses to GROUPS of identical bins (same remaining
    * capacity, contiguous indices), of which each class step creates at
    * most three — so the driver walk is O(classes · groups), histogram-
    * sized, never corpus-sized. Equal-class items fill a bin until it no
    * longer fits (⌊rem/cls⌋ each, in bin-index order), which is exactly
    * per-item FFD's behavior — CurationSpec pins equality against a
    * naive per-item reference on random corpora. Returns the placement
    * segments (rank ranges → bin arithmetic) and the bin count.
    */
  private[graft] def ffdSchedule(hist: Seq[(Long, Long)],
                                 budget: Long): (Seq[PackSeg], Long) = {
    var groups = Vector.empty[(Long, Long, Long)] // (rem, cnt, firstIdx)
    var nb = 0L
    val pl = Seq.newBuilder[PackSeg]
    hist.sortBy(-_._1).foreach { case (cls, m) =>
      val newg = Vector.newBuilder[(Long, Long, Long)]
      var cumbef = 0L
      groups.foreach { case (rem, cnt, fidx) =>
        val q = if (rem >= cls) rem / cls else 0L
        val cap = cnt * q
        val x = math.max(0L, math.min(m - cumbef, cap))
        if (x == 0 || q == 0) newg += ((rem, cnt, fidx))
        else {
          val f = x / q
          val p = x - f * q
          pl += PackSeg(cls, cumbef + 1, cumbef + x, fidx, q)
          if (f > 0) newg += ((rem - q * cls, f, fidx))
          if (p > 0) newg += ((rem - p * cls, 1L, fidx + f))
          val left = cnt - f - (if (p > 0) 1L else 0L)
          if (left > 0) newg += ((rem, left, fidx + f + (if (p > 0) 1L else 0L)))
        }
        cumbef += cap
      }
      val mRest = math.max(0L, m - cumbef)
      if (mRest > 0) {
        val q0 = budget / cls
        val nNew = (mRest + q0 - 1) / q0
        val r = mRest - (nNew - 1) * q0
        pl += PackSeg(cls, m - mRest + 1, m, nb, q0)
        if (nNew > 1) newg += ((budget - q0 * cls, nNew - 1, nb))
        newg += ((budget - r * cls, 1L, nb + nNew - 1))
        nb += nNew
      }
      groups = newg.result()
    }
    (pl.result(), nb)
  }

  /** Best-fit(-decreasing) sequence packing — the PADDING-FREE
    * alternative to [[packSequences]]' concat-and-chunk: documents are
    * never split across sequences; each doc's token count rounds UP to a
    * length class (bucketed batching, classWidth-granular), classes pack
    * first-fit-decreasing, and the residual per-bin slack is the honest
    * padding cost (the [[packWasteCard]] comparison). What frames
    * non-concatenative fine-tuning data.
    *
    * Scale shape: the histogram is one ≤ budget/classWidth-row
    * aggregate; the FFD schedule is a driver walk over it (model-sized
    * by construction — the k×dim contract); ranks within each class are
    * [[Ranks.position]] (no corpus-wide window); the rank→bin map is
    * segment arithmetic against the broadcast schedule. Within-class
    * order is content-hash (md5(doc_id), doc_id) — the repo's
    * deterministic-uniform order.
    *
    * Contract: docs with n_tok > budget get singleton sequences AFTER
    * the packed bins (the loader truncates; slack 0); docs with
    * n_tok < 1 carry no tokens and are dropped from the layout.
    * Returns (doc_id, n_tok, cls, seq_id).
    *
    * `prefixHex` widens the hash-prefix bucketing (16^k sort-aligned
    * buckets): 0 (default) DERIVES it from the class histogram the
    * schedule already collects — the largest class's count caps a rank
    * partition, so k grows one hex char per 16× beyond 4M rows. A
    * dominant single class at 100× scale therefore gets 256/4096-way
    * rank partitions instead of m/16-row sorts. The width moves
    * partition sizes, never results — CurationSpec pins width-1 ≡
    * width-2 output equality.
    */
  def packBestFitAssignments(counts: DataFrame, budget: Long,
                             classWidth: Long = 20L,
                             prefixHex: Int = 0): DataFrame = {
    require(budget % classWidth == 0, s"budget $budget not a multiple of class width $classWidth")
    // class histogram first: it feeds BOTH the FFD schedule and the
    // prefix-width derivation (one model-sized collect, as before)
    val pre = counts.filter(col("n_tok") >= 1 && col("n_tok") <= budget)
      .withColumn("cls",
        expr(s"((n_tok + ${classWidth - 1}) div ${classWidth}L) * ${classWidth}L"))
    val hist = pre.groupBy("cls").agg(count(lit(1)).as("m")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val maxM = if (hist.isEmpty) 0L else hist.map(_._2).max
    // cap at 4 hex chars (65536 buckets): beyond that the offsets table
    // itself stops being metadata-sized — at maxM > ~2·10¹¹ rows per
    // class, re-shard upstream instead
    val k = if (prefixHex > 0) prefixHex
    else (1 to 4).find(i => maxM / math.pow(16, i).toLong <= (1L << 22)).getOrElse(4)
    val in = counts.withColumn("h", md5(col("doc_id").cast("string")))
    val t = in.filter(col("n_tok") >= 1 && col("n_tok") <= budget)
      .withColumn("cls",
        expr(s"((n_tok + ${classWidth - 1}) div ${classWidth}L) * ${classWidth}L"))
    val ranked = Ranks.position(t, Seq("cls"), Seq("h", "doc_id"), k, "t")
    val (pl, nBins) = ffdSchedule(hist, budget)
    val spark = counts.sparkSession
    import spark.implicits._
    val packed = ranked
      .join(broadcast(pl.toDF("cls", "rlo", "rhi", "fbin", "q")), Seq("cls"))
      .filter(col("t").between(col("rlo"), col("rhi")))
      .select(col("doc_id"), col("n_tok"), col("cls"),
        expr("fbin + (t - rlo) div q").as("seq_id"))
    // oversize singletons after the packed bins, in the same hash order
    val over = Ranks.position(in.filter(col("n_tok") > budget), Nil, Seq("h", "doc_id"), k, "t")
      .select(col("doc_id"), col("n_tok"), col("n_tok").as("cls"),
        (lit(nBins) + col("t") - 1).as("seq_id"))
    packed.unionByName(over)
  }

  /** The per-sequence best-fit layout: (seq_id, n_docs, n_tokens,
    * class_tokens, slack) — slack is the bin's residual loader budget
    * (0 for oversize singletons, which size themselves).
    */
  def packBestFit(counts: DataFrame, budget: Long,
                  classWidth: Long = 20L): DataFrame = {
    val asg = packBestFitAssignments(counts, budget, classWidth)
    asg.groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("cls").as("class_tokens"))
      .withColumn("slack",
        when(col("class_tokens") <= lit(budget), lit(budget) - col("class_tokens"))
          .otherwise(lit(0L)))
  }

  /** The padding-waste honesty card: the SAME corpus at the SAME budget
    * under both layouts. Concat-and-chunk pads only the final chunk but
    * SPLITS documents across sequence boundaries (split_docs counts
    * them); best-fit never splits a doc and pays per-bin slack + class
    * round-up instead (pad_tokens = loader slots − real tokens in both
    * rows, so the columns are directly comparable).
    */
  def packWasteCard(counts: DataFrame, budget: Long,
                    classWidth: Long = 20L): DataFrame = {
    val spark = counts.sparkSession
    val bf = packBestFit(counts, budget, classWidth)
      .agg(count(lit(1)).as("n_seqs"), sum("n_tokens").as("n_tokens"),
        sum(when(col("slack") >= 0 && col("class_tokens") <= lit(budget),
          lit(budget) - col("n_tokens")).otherwise(lit(0L))).as("pad_tokens"))
      .select(lit("bestfit").as("layout"), col("n_seqs"), col("n_tokens"),
        col("pad_tokens"), lit(0L).as("split_docs"))
    val ca = packAssignmentsFrom(counts, budget)
    val cc = ca.agg(
        sum("n_tok").as("n_tokens"),
        sum(when(col("n_tok") >= 1 &&
          expr(s"start div ${budget}L") =!= expr(s"(start + n_tok - 1) div ${budget}L"),
          1L).otherwise(0L)).as("split_docs"))
      .select(lit("concat").as("layout"),
        expr(s"(n_tokens + ${budget - 1}) div ${budget}L").as("n_seqs"),
        col("n_tokens"),
        expr(s"((n_tokens + ${budget - 1}) div ${budget}L) * ${budget}L - n_tokens")
          .as("pad_tokens"),
        col("split_docs"))
    bf.unionByName(cc)
  }

  /** Training-shard assignment — the loader-facing LAST step of the
    * packing pipeline: the packed sequence stream cut into size-bounded
    * shards in the same content-hash order, `seqsPerShard` fixed-budget
    * sequences per shard (shard token budget = seqsPerShard·budget).
    * Pure arithmetic over [[packAssignmentsFrom]]'s layout — shard_id =
    * seq_id div seqsPerShard — so the assignment inherits the
    * distributed prefix-sum's scale shape (no new shuffle beyond it).
    * Returns (doc_id, n_tok, start, seq_id, shard_id).
    */
  def shardAssignmentsFrom(counts: DataFrame, budget: Long,
                           seqsPerShard: Long): DataFrame =
    packAssignmentsFrom(counts, budget)
      .withColumn("shard_id", expr(s"seq_id div ${seqsPerShard}L"))

  /** The shard MANIFEST a data loader consumes: one row per shard with
    * its sequence/doc/token counts and the fixed loader budget —
    * (shard_id, n_seqs, n_docs, n_tokens, token_budget). n_seqs counts
    * the shard's DISTINCT sequences (a doc straddling a chunk boundary
    * belongs to the chunk its first token lands in, so the last shard
    * may run ragged — the manifest records actual content, the budget
    * column the loader's allocation).
    */
  def shardManifestFrom(counts: DataFrame, budget: Long,
                        seqsPerShard: Long): DataFrame =
    shardAssignmentsFrom(counts, budget, seqsPerShard)
      .groupBy("shard_id")
      .agg(countDistinct("seq_id").as("n_seqs"),
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"))
      .withColumn("token_budget", lit(budget * seqsPerShard))

  /** Per-source quality cap: keep each source's top `k` documents by
    * (n_chars DESC, doc_id ASC) — the per-domain cap every crawl pipeline
    * applies so one over-represented domain cannot dominate the corpus
    * (MassiveText/FineWeb-style caps; contrast [[mixBySource]], which
    * takes a hash-ORDERED quota for proportional mixing — this keeps the
    * BEST k, not a random k).
    *
    * The per-source top k is the two-phase [[Ranks.topK]] (at crawl
    * scale one domain can be half the corpus); the oracle runs the
    * one-window form. Returns (doc_id, source, rk).
    */
  def capBySource(docs: DataFrame, k: Int, nBuckets: Int = 16): DataFrame =
    Ranks.topK(docs.select(col("doc_id"), col("source"), col("n_chars")),
      Seq("source"), Seq(col("n_chars").desc, col("doc_id").asc), k,
      "doc_id", "cap", nBuckets, "rk")
      .select("doc_id", "source", "rk")

  /** Deterministic per-source rate downsampling: doc survives iff its
    * 16-bit salted content hash falls under `floor(rate·65536)` for its
    * source — how a pipeline de-weights over-represented sources without
    * a count, a shuffle, or an RNG. Row-local single projection (the
    * same salted-hash discipline as [[assignSplits]], independent salt);
    * the same doc keeps/drops identically on any cluster, any run, and
    * adding docs never flips existing decisions. Sources absent from
    * `rates` are kept whole. Returns (doc_id, source).
    */
  def sampleStratified(docs: DataFrame,
                       rates: Map[String, Double]): DataFrame = {
    val h = conv(substring(md5(concat(lit("sample:"),
      col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long") // 0..65535
    val cut = rates.foldRight(lit(65536L): Column) { case ((src, r), rest) =>
      when(col("source") === src, math.floor(r * 65536).toLong).otherwise(rest)
    }
    docs.filter(h < cut).select("doc_id", "source")
  }

  /** Weighted sample WITHOUT replacement of k docs, probability
    * proportional to `weight` — Efraimidis & Spirakis (2006) priority
    * sampling in its exponential-race form: each doc draws a
    * deterministic uniform u from an md5 slice (the repo's cross-engine
    * RNG) and races with key −ln(u)/w; the k SMALLEST keys win, which
    * is distributionally identical to k successive weighted draws.
    *
    * This is how a pipeline draws a token-weighted subcorpus (weight =
    * doc length) or a quality-weighted eval slice at 100 TB: the key is
    * one row-local projection and the selection is `orderBy(key)
    * .limit(k)` — planned as TakeOrderedAndProject, i.e. per-partition
    * k-heaps merged on the driver, never a global sort, never an RNG
    * (same doc wins on any cluster, any run). The transcendental ln
    * goes through Stable.stab(6) so the DuckDB twin orders identically;
    * ties on the stab'd key break by doc_id in both engines.
    *
    * Returns (doc_id, w, skey), the k winners in key order.
    */
  def sampleWeighted(docs: DataFrame, weight: Column, k: Int,
                     salt: String = "ws"): DataFrame = {
    // 48-bit md5 slice → exact double in (0, 2^48) → u ∈ [0, 1); u = 0
    // (p = 2⁻⁴⁸) yields key +∞ — "never sampled", identically cross-engine
    val u = conv(substring(md5(concat(lit(salt + ":"),
      col("doc_id").cast("string"))), 1, 12), 16, 10).cast("double") /
      lit(281474976710656.0) // 2^48, exact
    val key = graft.functions.Stable.stab(-log(u) / weight.cast("double"), 6)
    // E–S is only defined for w > 0: w = 0 would key +∞ ("never sampled",
    // surprising) and w < 0 a NEGATIVE key that always wins the race,
    // silently corrupting the sample — exclude both, identically in the
    // oracle twin (WHERE w > 0).
    docs.filter(weight > 0)
      .select(col("doc_id"), weight.cast("long").as("w"), key.as("skey"))
      .orderBy(col("skey"), col("doc_id"))
      .limit(k)
  }

  /** Population Stability Index between two corpus versions over
    * doc-length buckets — the standard production drift score for a
    * model-input distribution (PSI < 0.1 stable, 0.1–0.25 watch,
    * > 0.25 shifted), computed per bucket so the card shows WHERE the
    * mass moved, with the total alongside:
    *
    *   PSI = Σ_b (p_new(b) − p_old(b)) · ln(p_new(b)/p_old(b))
    *
    * Add-1 smoothing over the UNION bucket set keeps every term finite
    * (an empty bucket on one side is exactly the signal PSI exists to
    * price, not a division to dodge). Each term is stab(6)'d and the
    * total rides an exact-decimal window sum (order-free, so DuckDB's
    * window evaluation can't drift). Shape: two bounded bucket
    * histograms, one full outer equi-join, one window over ≤ |buckets|
    * rows — length buckets are range-bounded, never corpus-bounded.
    */
  def psiDrift(oldDocs: DataFrame, newDocs: DataFrame,
               bucketWidth: Int = 50): DataFrame = {
    import graft.functions.Stable
    def hist(d: DataFrame, n: String) = d
      .select(expr(s"n_chars DIV $bucketWidth").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(n))
    val j = hist(oldDocs, "c_old_r").join(hist(newDocs, "c_new_r"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("c_old_r"), lit(0L)).as("c_old"),
        coalesce(col("c_new_r"), lit(0L)).as("c_new"))
      .localCheckpoint() // reused: totals + terms
    val tot = j.agg(sum("c_old").as("n_old"), sum("c_new").as("n_new"),
      count(lit(1)).as("nb"))
    val po = (col("c_old") + 1).cast("double") / (col("n_old") + col("nb")).cast("double")
    val pn = (col("c_new") + 1).cast("double") / (col("n_new") + col("nb")).cast("double")
    import org.apache.spark.sql.expressions.Window
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    j.crossJoin(broadcast(tot))
      .withColumn("term", Stable.stab((pn - po) * log(pn / po), 6))
      .select(col("bucket"), col("c_old"), col("c_new"), col("term"),
        Stable.stab(sum(col("term").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .over(w).cast("double"), 6).as("psi_total"))
  }

  /** Snapshot diff card between two corpus versions — the dataset-
    * versioning rollup (added / removed / changed / unchanged with doc
    * and byte deltas) a pipeline logs per release so a silent 30%-drop
    * regression can't ship. Change detection compares md5 fingerprints,
    * not raw bytes, through the comparator (at 100 TB you join the
    * PERSISTED per-doc fingerprint tables of each snapshot instead of
    * the text columns; the shape — one full outer equi-join on doc_id +
    * a 4-row rollup — is the same). Integer-exact: counts and length
    * sums only, no stabilizer anywhere.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), col("text").as("ot"))
    val n = newDocs.select(col("doc_id"), col("text").as("nt"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(
        when(col("ot").isNull, "added")
          .when(col("nt").isNull, "removed")
          .when(md5(col("ot")) =!= md5(col("nt")), "changed")
          .otherwise("unchanged").as("change"),
        coalesce(length(col("ot")), lit(0)).as("c_old"),
        coalesce(length(col("nt")), lit(0)).as("c_new"))
      .groupBy("change")
      .agg(count(lit(1)).as("n_docs"),
        sum("c_old").as("chars_old"), sum("c_new").as("chars_new"))
  }
}
