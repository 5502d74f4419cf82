package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators for training-data pipelines: token statistics,
  * quality scoring, language-ID heuristics, and document fingerprinting.
  * All single-pass hash aggregates over the token stream — one shuffle on
  * doc_id, partials map-side, no driver round-trips.
  */
object TextAnalysis {

  /** English stopword list used by the ratio features / lang-ID heuristic. */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Per-document token statistics: counts, type-token ratio, lengths. */
  def tokenStats(docs: DataFrame): DataFrame =
    Search.tokens(docs)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct("word").as("n_unique"),
        (sum(length(col("word"))).cast("double") / count(lit(1))).as("avg_token_len"),
        (countDistinct("word").cast("double") / count(lit(1))).as("ttr"))

  /** Quality-score features + a composite score in [0,1]:
    * length saturation × lexical diversity × (1 - digit ratio), with a
    * stopword-ratio feature alongside. Deterministic arithmetic only.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    Search.tokens(docs)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(when(col("word").isin(Stopwords: _*), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("stopword_ratio"),
        (sum(when(col("word").rlike("[0-9]"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("digit_ratio"),
        (countDistinct("word").cast("double") / count(lit(1))).as("ttr"))
      .withColumn("quality",
        qualityOf(col("n_tokens").cast("double"), col("ttr"), col("digit_ratio")))

  /** Composite quality in [0,1] from its features (n as a double). */
  private def qualityOf(n: Column, ttr: Column, digitRatio: Column): Column =
    least(lit(1.0), n / lit(50.0)) * ttr * (lit(1.0) - digitRatio)

  /** Clean-gate defaults (cleanCorpus, cleanGate, Curation.curate):
    * kept-token floor, quality floor, stopword-ratio language gate. */
  val CleanMinTokens = 30L
  val CleanMinQuality = 0.32
  val CleanLangThreshold = 0.02

  /** (n_tokens: long, quality, stopword_ratio) of ONE row's kept-token
    * array by array functions: the same integers and single divisions as
    * qualityScore's aggregate, so gates keep the same docs (CurationSpec
    * pins it). A zero-token row's null ratios fail every gate, matching
    * its absence from the aggregate. */
  def cleanFeatures(kept: Column): (Column, Column, Column) = {
    val n = size(kept).cast("double")
    val stopwordRatio = size(filter(kept, w => w.isin(Stopwords: _*))).cast("double") / n
    val digitRatio = size(filter(kept, w => w.rlike("[0-9]"))).cast("double") / n
    val ttr = size(array_distinct(kept)).cast("double") / n
    (size(kept).cast("long"), qualityOf(n, ttr, digitRatio), stopwordRatio)
  }

  /** Per-source corpus datasheet — the "data card" profile a pipeline
    * publishes with every training-set release: volume (docs, tokens,
    * chars), language spread, and quality/diversity means, one row per
    * source. One token-stream aggregate (the same per-doc features
    * qualityScore computes) joined 1:1 with the narrow doc metadata,
    * then a second |sources|-bounded aggregate — the corpus is scanned
    * once at token grain and once at metadata grain, nothing is
    * collected, and the output is as many rows as there are sources.
    *
    * Determinism: per-doc doubles are stab(6)'d, per-source means go
    * through dsum (exact decimal, order-independent) before the final
    * stab — so the card hash-matches DuckDB despite double aggregation.
    * Docs with zero tokens after filtering carry no token-derived
    * features and are excluded (identically in both engines).
    */
  def datasheet(docs: DataFrame): DataFrame = {
    import graft.functions.Stable
    val q = qualityScore(docs)
    val meta = docs.select(col("doc_id"), col("source"), col("lang"),
      col("n_chars").cast("long").as("n_chars"))
    q.join(meta, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        countDistinct("lang").as("n_langs"),
        Stable.dsum(Stable.stab(col("quality"), 6), 6).as("qsum"),
        Stable.dsum(Stable.stab(col("ttr"), 6), 6).as("tsum"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"),
        Stable.stab(col("n_tokens").cast("double") / col("n_docs"), 6)
          .as("avg_doc_tokens"),
        Stable.stab(col("qsum") / col("n_docs"), 6).as("mean_quality"),
        Stable.stab(col("tsum") / col("n_docs"), 6).as("mean_ttr"))
  }

  /** One-pass corpus cleaning (the C4-style filter a training pipeline
    * runs before anything else): minimum length, quality floor, and
    * language gate — all derived from the SINGLE per-doc aggregate
    * qualityScore already computes (the stopword ratio doubles as the
    * lang-ID signal), so the whole pass is one scan + one hash aggregate
    * regardless of how many filter dimensions are stacked on top.
    */
  def cleanCorpus(docs: DataFrame, minTokens: Long = CleanMinTokens,
                  minQuality: Double = CleanMinQuality,
                  langThreshold: Double = CleanLangThreshold): DataFrame =
    qualityScore(docs)
      .withColumn("lang_pred",
        when(col("stopword_ratio") >= langThreshold, "en").otherwise("und"))
      .filter(col("n_tokens") >= minTokens && col("quality") >= minQuality &&
        col("lang_pred") === "en")
      .select("doc_id", "n_tokens", "quality", "lang_pred")

  /** The clean gates of `cleanCorpus` as a ROW-LOCAL predicate over the
    * `text` column (cleanFeatures) — no explode, no aggregate, no shuffle
    * — so a streaming ingest can filter each micro-batch statelessly;
    * the keep set is value-identical to cleanCorpus's.
    */
  def cleanGate(minTokens: Long = CleanMinTokens, minQuality: Double = CleanMinQuality,
                langThreshold: Double = CleanLangThreshold): Column = {
    val (n, quality, stopwordRatio) = cleanFeatures(filter(
      TextOps.splitWords(TextOps.normalize(col("text"))), w => TextOps.isKeptToken(w)))
    n >= minTokens && quality >= minQuality && stopwordRatio >= langThreshold
  }

  /** Exact top-`p`-fraction quality gate at corpus scale — the selection
    * rule "keep the best P % by quality" that sits between scoring
    * (qualityScore) and a fixed-threshold gate (cleanCorpus): the
    * threshold is DERIVED from the corpus's own score distribution, so
    * the gate adapts per corpus with no hand-tuned constant.
    *
    * Scalable exact shape — NOT a global rank window and NOT a top-k
    * collect (both die at corpus scale for P·N rows): scores collapse to
    * integer micro-units (floor(q·1e6 + 0.5), the repo's standard gate
    * arithmetic), one hash aggregate builds the score HISTOGRAM, and the
    * descending cumulative sum over the histogram finds the threshold
    * q* = max{q : |{docs ≥ q}| ≥ ⌊p·n⌋}. The histogram window is
    * score-cardinality-bounded (≤ 1e6 + 1 rows for a [0,1] score at
    * micro precision) — a CONSTANT, independent of corpus size — and the
    * keep set is one broadcast-threshold filter. Ties at q* are included
    * whole (the smallest tie-closed superset of the top ⌊p·n⌋), so the
    * result is deterministic with no per-doc tiebreak pass. The scored
    * projection is localCheckpointed: the expensive tokenize+aggregate
    * runs ONCE, with histogram and filter both reading the 2-long-per-doc
    * cells back. Returns (doc_id, q_micro).
    */
  def qualityTopP(docs: DataFrame, p: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val s = qualityScore(docs)
      .select(col("doc_id"),
        floor(col("quality") * lit(1000000.0) + lit(0.5)).cast("long").as("q_micro"))
      .localCheckpoint()
    val hist = s.groupBy("q_micro").agg(count(lit(1)).as("c"))
    // single-partition window, but over the score histogram (bounded),
    // never the corpus
    val cum = hist.withColumn("cum", sum("c").over(w.orderBy(desc("q_micro"))))
    val tot = hist.agg(sum("c").as("n"))
    // the epsilon'd floor of mixBySource (0.29 × 100 = 28.999…)
    val thresh = cum.crossJoin(broadcast(tot))
      .filter(col("cum") >= floor(lit(p) * col("n") + lit(1e-9)))
      .agg(max("q_micro").as("q_star"))
    s.crossJoin(broadcast(thresh))
      .filter(col("q_micro") >= col("q_star"))
      .select("doc_id", "q_micro")
  }

  /** Exact quality DECILES — the calibration table a curation run
    * publishes next to its gate thresholds (which score buys entry to
    * the top 10 %, how wide each band is). Same scalable shape as
    * qualityTopP: micro-unit scores → ONE score histogram → a
    * bounded-cardinality cumulative window — and the decile label is
    * pure integer arithmetic, decile(q) = ⌈10·cum_incl(q) / n⌉ via
    * (10·cum + n − 1) div n, so ties land in one band identically in
    * both engines and no per-doc rank is ever computed. Output one row
    * per non-empty decile: (decile, n_docs, q_lo, q_hi) in micro-units.
    */
  def qualityDeciles(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val s = qualityScore(docs)
      .select(floor(col("quality") * lit(1000000.0) + lit(0.5)).cast("long").as("q_micro"))
    val hist = s.groupBy("q_micro").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum", sum("c").over(w.orderBy("q_micro")))
    val tot = hist.agg(sum("c").as("n"))
    cum.crossJoin(broadcast(tot))
      .withColumn("decile", expr("(10 * cum + n - 1) div n")) // exact integer ceil-div
      .groupBy("decile")
      .agg(sum("c").as("n_docs"), min("q_micro").as("q_lo"), max("q_micro").as("q_hi"))
      .orderBy("decile")
  }

  /** PII patterns, written to the RE2 ∩ java.util.regex common subset (no
    * backrefs, no lookaround) so Spark and the DuckDB oracle match the
    * same spans byte-for-byte.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[0-9][0-9() -]{6,}[0-9]"

  /** Redact emails, IPv4 addresses, and phone-shaped digit runs with typed
    * placeholder tokens. Replacement order is fixed (email → ip → phone)
    * because the later, greedier patterns must never see spans the earlier
    * ones claim. Pure codegen'd string expressions — no UDF.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Stopword-ratio language-ID heuristic: docs whose English-stopword
    * ratio clears a threshold are tagged 'en', else 'und'. (A real lang-ID
    * uses char n-gram profiles per language; over this synthetic 31-word
    * vocabulary the stopword family is the only available signal. The
    * Spark-side mechanics — token stream, per-doc ratio aggregate,
    * threshold classify, confusion against the labeled `lang` column — are
    * the real pipeline shape.)
    */
  def langId(docs: DataFrame, threshold: Double = 0.02): DataFrame =
    Search.tokens(docs)
      .groupBy("doc_id")
      .agg((sum(when(col("word").isin(Stopwords: _*), 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("stopword_ratio"))
      .withColumn("lang_pred",
        when(col("stopword_ratio") >= threshold, "en").otherwise("und"))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("is_match", (col("lang_pred") === col("lang")).cast("boolean"))
      .select("doc_id", "lang", "lang_pred", "stopword_ratio", "is_match")

  /** Document fingerprint (winnowing-lite): the minimum 60-bit shingle
    * key — one stable BIGINT id per document, robust to shingle
    * reordering. Numeric (not the 32-hex digest string) so the aggregate
    * stays in HashAggregate — a min over strings falls back to
    * SortAggregate (Tungsten buffers hold only fixed-width primitives).
    */
  def fingerprint(docs: DataFrame, n: Int = 3): DataFrame =
    fingerprintFrom(Dedup.shingles(docs, n))

  /** Same, from a prebuilt shingle table (doc_id, shingle) — callers that
    * already materialized shingles (the dedup suite shares one parquet
    * intermediate per corpus) skip the tokenize+shingle pass entirely.
    */
  def fingerprintFrom(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id")
      .agg(min(Dedup.shingleKey(col("shingle"))).as("fingerprint"))

  /** Per-doc n-gram NOVELTY profile — the boilerplate detector dual of
    * dedup: for each doc, the fraction of its distinct shingles whose
    * FIRST corpus occurrence (min doc_id) is an earlier doc. A high
    * seen-fraction doc is assembled from text the corpus already has
    * (mirror, template, quote farm) even when no single source passes a
    * pair-dedup bar. One gram-keyed min aggregate (|distinct grams| rows)
    * + one equi-join back + a per-doc rollup — corpus-linear, no pairs.
    * `shk` is the shared persisted (doc_id, shk) shingle-key table.
    */
  def shingleNovelty(shk: DataFrame): DataFrame = {
    val first = shk.groupBy("shk").agg(min("doc_id").as("first_doc"))
    shk.join(first, "shk")
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_sh"), col("n_seen"),
        (col("n_seen").cast("double") / col("n_sh")).as("seen_frac"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, the MOSS
    * algorithm): over the doc's POSITIONED n-gram hash sequence, every
    * window of `w` consecutive grams selects its minimum hash (ties to
    * the RIGHTMOST occurrence — the standard winnowing tie-break; robust
    * winnowing in Schleimer et al. instead prefers re-selecting the
    * previously selected fingerprint), and
    * the doc's fingerprint set is the distinct selected hashes. Guarantees
    * any shared run of w+n-1 tokens between two docs shares ≥ 1
    * fingerprint, with ~2/(w+1) of grams selected — the copy-detection
    * sketch between one min-hash (too coarse) and all grams (too big).
    *
    * Shape: one positioned gram projection (zip_with slices, row-local),
    * then a doc-partitioned sliding min — partitions are DOC-sized
    * (bounded by max doc length, like every per-doc window here), never
    * corpus-sized. The min carries (hash, position) packed into one
    * DECIMAL(38,0) so the rightmost tie-break rides the same aggregate:
    * composite = hk·2²⁰ + (2²⁰−1−pos), min composite ⇔ (min hk, max pos).
    * The oracle replays the identical packing in HUGEINT.
    */
  def winnowing(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    val arr = TextOps.splitWords(lower(col("text")))
    val sh = TextOps.ngrams(col("arr"), n)
    val P = 1048576L // 2^20 — max doc gram count the packing supports
    val pos = docs.select(col("doc_id"), arr.as("arr"))
      .filter(size(col("arr")) >= n + w - 1) // ≥ one complete window
      .select(col("doc_id"), size(col("arr")).as("n_toks"),
        posexplode(sh).as(Seq("pos", "shingle")))
      .select(col("doc_id"), col("pos"), (col("n_toks") - (n - 1)).as("n_grams"),
        // fail LOUDLY past the packing's capacity: at pos ≥ 2²⁰ the
        // inverted-position term goes negative and the sliding min would
        // silently select a corrupted key (review finding) — a >1M-gram
        // doc must error, not drift from the oracle
        when(col("n_grams") < P,
          Dedup.shingleKey(col("shingle")).cast("decimal(38,0)") * P +
            (lit(P - 1) - col("pos")))
          .otherwise(raise_error(concat(lit("winnowing: doc "),
            col("doc_id").cast("string"),
            lit(s" has >= $P grams — beyond the (hash, pos) packing"))))
          .as("ck"))
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    pos.withColumn("m", min(col("ck")).over(win))
      .filter(col("pos") <= col("n_grams") - w) // complete windows only
      .select(col("doc_id"),
        ((col("m") - pmod(col("m"), lit(P))) / P).cast("long").as("fp"))
      .distinct()
  }

  /** Per-document bigram-LM negative log-likelihood — the perplexity-style
    * quality signal LLM data pipelines filter on (a doc whose word
    * transitions are improbable under the corpus's own bigram statistics
    * is boilerplate, gibberish, or another language). Model: add-one-
    * smoothed bigram probabilities P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V),
    * trained on the SAME corpus entirely in-plan; score(d) = mean over
    * d's bigram occurrences of −ln P.
    *
    * Scale posture: bigram/first-word counts are groupBy + equi-join (NOT
    * count-windows — a window partitioned by "the" would put a measurable
    * share of a 100 TB corpus in one partition; the join form AQE-splits
    * skewed keys). The vocabulary size and first-word counts are
    * vocab-bounded (broadcastable); only the (w1,w2)-keyed join shuffles
    * corpus-scale data. Each −ln is stab(6)-collapsed, per-doc sums ride
    * the exact order-independent decimal path, so the DuckDB oracle
    * hash-matches (ln differs in the last ulp across libm builds).
    */
  /** The bigram occurrence stream (doc_id, w1, w2) — one narrow explode. */
  def bigramStream(docs: DataFrame): DataFrame = {
    val arr = TextOps.splitWords(TextOps.normalize(col("text")))
    // zip_with over two slices, not transform(sequence, element_at) — the
    // indexed-lambda HOF runs interpreted, measured 17× slower for
    // identical rows (Search.phraseTopK carries the measurement)
    val n = size(col("arr"))
    val bigram = zip_with(
      slice(col("arr"), lit(1), n - 1),
      slice(col("arr"), lit(2), n - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    docs.select(col("doc_id"), arr.as("arr"))
      .filter(size(col("arr")) >= 2)
      .select(col("doc_id"), explode(bigram).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** Train the bigram LM: one row per observed bigram with its count, the
    * first-word continuation count, and the vocabulary size — everything
    * scoring needs, denormalized so the scorer does ONE model join. A
    * pipeline trains this once and scores many corpora with it.
    */
  def bigramLm(docs: DataFrame): DataFrame = {
    val arr = TextOps.splitWords(TextOps.normalize(col("text")))
    val b = bigramStream(docs)
    val cb = b.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cf = b.groupBy("w1").agg(count(lit(1)).as("cf"))
    val v = docs.select(explode(arr).as("w"))
      .agg(countDistinct("w").cast("double").as("v"))
    cb.join(cf, Seq("w1")).crossJoin(broadcast(v))
  }

  def bigramNll(docs: DataFrame): DataFrame =
    bigramNllFrom(bigramStream(docs), bigramLm(docs))

  /** Score docs against a (pre-trained) model: one corpus pass + one
    * model equi-join.
    */
  def bigramNllFrom(b: DataFrame, lm: DataFrame): DataFrame = {
    import graft.functions.Stable
    b.join(lm, Seq("w1", "w2"))
      .select(col("doc_id"),
        Stable.stab(-log((col("cb") + 1).cast("double") /
          (col("cf").cast("double") + col("v"))), 6).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        Stable.stab(Stable.dsum(col("nll"), 6) / count(lit(1)), 6).as("avg_nll"))
  }

  /** Per-document NLL under an interpolated Kneser–Ney bigram LM
    * (Kneser & Ney 1995; Chen & Goodman 1998's fixed-discount form,
    * D = 0.75) — the production smoothing the add-one scorer
    * (bigramNll) approximates: continuation probability counts HOW MANY
    * contexts a word follows, not how often, so boilerplate tokens that
    * appear a lot in ONE context stop looking probable everywhere.
    *
    *   P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·)
    *            + (D·N1+(w₁·)/c(w₁·)) · (N1+(·w₂)/|bigram types|)
    *
    * Scored on the training corpus every bigram is observed, so P > 0
    * with no unseen-context branch. D = 0.75 is an exact binary
    * fraction — every term is mul/div/greatest of identical doubles,
    * −ln stab(6)'d, the per-doc mean under the dsum discipline.
    * Shape: the bigram stream feeds four bounded aggregates (bigram
    * types, first-word totals, continuation/predecessor type counts);
    * scoring is one model equi-join — the bigramNll plan plus two
    * |type|-bounded joins.
    */
  def bigramNllKn(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    import graft.functions.Stable
    // Round-19 NEGATIVE result (don't redo): guarded SinglePartition pins
    // on the two checkpointed intermediates cut the chain 15 → 8 AQE
    // stage jobs but measured FLAT in isolation (1.30 → 1.27 s profile)
    // and SLOWER in two full bench runs (1.42 → 1.60 → 1.84 s min-of-3)
    // — serializing the scoring join+aggregate costs more than the saved
    // exchanges. Reverted to the round-18 shape.
    val b = bigramStream(docs).localCheckpoint() // reused: counts + scoring
    val cb = b.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .localCheckpoint() // reused: model + both type counts + the total
    val cf = b.groupBy("w1").agg(count(lit(1)).as("cf"))
    val n1f = cb.groupBy("w1").agg(count(lit(1)).as("n1f"))
    val n1p = cb.groupBy("w2").agg(count(lit(1)).as("n1p"))
    val nb = cb.agg(count(lit(1)).cast("double").as("nbig"))
    val lm = cb.join(cf, Seq("w1")).join(n1f, Seq("w1"))
      .join(n1p, Seq("w2")).crossJoin(broadcast(nb))
    val p = greatest(col("cb").cast("double") - lit(discount), lit(0.0)) / col("cf").cast("double") +
      ((lit(discount) * col("n1f").cast("double")) / col("cf").cast("double")) *
        (col("n1p").cast("double") / col("nbig"))
    b.join(lm, Seq("w1", "w2"))
      .select(col("doc_id"), Stable.stab(-log(p), 6).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        Stable.stab(Stable.dsum(col("nll"), 6) / count(lit(1)), 6).as("avg_nll"))
  }

  /** Per-document repeated-n-gram ratio — the repetition quality signal
    * (boilerplate, keyword stuffing, and degenerate generations repeat
    * n-grams; curation rules threshold on this). Over ALL n-gram
    * occurrences (not per-doc distinct): rep = 1 − distinct/total.
    * Single narrow explode + one hash aggregate; the ratio is one exact
    * integer division, so no stabilizer is needed.
    */
  def repetition(docs: DataFrame, n: Int = 3): DataFrame = {
    val arr = TextOps.splitWords(TextOps.normalize(col("text")))
    val grams = TextOps.ngrams(col("arr"), n)
    docs.select(col("doc_id"), arr.as("arr")).filter(size(col("arr")) >= n)
      .select(col("doc_id"), explode(grams).as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"), countDistinct("g").as("n_distinct"))
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"))
  }

  /** Cross-document duplicate-SPAN marking — the exact-substring dedup
    * pass of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better"), at token-n-gram granularity: a position
    * whose n-token window occurs anywhere else in the corpus (another
    * doc OR another offset of the same doc) starts a duplicate span,
    * and every occurrence except the globally-first one — min
    * (doc_id, pos) — is marked `keep = false`, the removal list a
    * pipeline's span-cut step consumes. Complements the doc-level dedup
    * family (whole/near-document) and `repetition` (within-doc ratio):
    * this is the signal that catches boilerplate shared ACROSS
    * otherwise-distinct documents.
    *
    * Scale shape: one narrow posexplode of the zip_with gram stream,
    * one hash aggregate (count + min(struct(doc_id, pos)) —
    * partial-aggregated map-side, so a boilerplate gram with millions
    * of occurrences never serializes through one task the way a
    * per-gram window would), and one equi-join back. The aggregate and
    * join run on the xxhash64 KEY of the gram, not the string — the
    * fast-tier fixed-width join-currency discipline (an n-token gram is
    * ~50 bytes; the key is 8, and xxhash64 is one cheap pass where the
    * md5-prefix key measured SLOWER than the string shuffle it saved at
    * sf0.1) — and the oracle re-derives the identical keys through
    * XxhashSql, so the rare collision (merging two distinct grams'
    * groups) is engine-consistent, exactly as with the fast shk tier.
    * Nothing is quadratic and nothing windows over an unbounded group.
    *
    * Returns (doc_id, pos 1-based token offset, gram, keep) for every
    * occurrence of every duplicated n-gram.
    */
  def duplicateSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val arr = TextOps.splitWords(TextOps.normalize(col("text")))
    val grams = TextOps.ngrams(col("arr"), n)
    val pg = docs.select(col("doc_id"), arr.as("arr")).filter(size(col("arr")) >= n)
      .select(col("doc_id"), posexplode(grams))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"), Dedup.shingleKey(col("col"), Dedup.Xx).as("gk"))
    val stats = pg.groupBy("gk").agg(
      count(lit(1)).as("occ"),
      min(struct(col("doc_id"), col("pos"))).as("first"))
    pg.join(stats.filter(col("occ") > 1).select("gk", "first"), "gk")
      .select(col("doc_id"), col("pos"), col("gram"),
        (col("doc_id") === col("first.doc_id") &&
          col("pos") === col("first.pos")).as("keep"))
  }

  /** Apply a duplicate-span removal list ([[duplicateSpans]] output, or
    * any (doc_id, pos, keep) table with n-token spans): drop every token
    * covered by a keep=false occurrence — positions pos..pos+n−1 — and
    * reassemble the survivors in order. The Lee-et-al. cut step itself:
    * span-dedup pipelines ship the CLEANED corpus, not the span list.
    *
    * Scale shape: the drop list (spans are the duplicated tail of the
    * corpus, far smaller than the token stream) expands n× and
    * aggregates to ONE per-doc position set; the cut itself is a
    * row-local indexed `filter` over each doc's token array after a
    * doc_id equi-join — no second tokenize, no token-level anti-join,
    * no reassembly aggregate (a first formulation paid all three:
    * 12.2 s vs 3.4 s measured at sf0.1). Per-doc work is bounded by
    * doc length × its own drop count. Docs with no dropped tokens pass
    * through with their normalized text; a fully-covered doc yields an
    * empty clean_text (it stays in the output — the caller decides
    * whether an emptied doc is itself dropped).
    *
    * Returns (doc_id, clean_text, n_tokens, n_dropped).
    */
  def cutSpans(docs: DataFrame, spans: DataFrame, n: Int = 8): DataFrame = {
    val drop = spans.filter(!col("keep"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .groupBy("doc_id").agg(collect_set(col("p")).as("drops"))
    val arr = TextOps.splitWords(TextOps.normalize(col("text")))
    docs.select(col("doc_id"), arr.as("arr"))
      .filter(size(col("arr")) >= 1)
      .join(drop, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", filter(col("arr"), (_, i) =>
          coalesce(!array_contains(col("drops"), (i + 1).cast("long")), lit(true))))
          .as("clean_text"),
        size(col("arr")).cast("long").as("n_tokens"),
        coalesce(size(col("drops")), lit(0)).cast("long").as("n_dropped"))
  }

  /** RAG-style sliding-window chunking: each doc becomes
    * ceil-count overlapping windows of `width` tokens advancing by
    * `stride` (stride < width → width−stride tokens of overlap between
    * consecutive chunks — the standard retrieval-index prep, where a
    * fact straddling a boundary must be whole in at least one chunk).
    *
    * Chunk count is the sliding-window formula: 1 window when the doc
    * fits, else 1 + ⌈(n − width) ⁄ stride⌉ — the last window is the only
    * one allowed to run short, and every token is covered (the final
    * start (nc−1)·stride is < n by construction).
    *
    * Scale shape: strictly row-local — one projection computes the start
    * sequence, one posexplode emits the windows, `slice`+`array_join`
    * materialize each chunk from the doc's own token array. No shuffle,
    * no window function, no join; output size is Σ nc rows, linear in
    * corpus tokens. At 100 TB this is a map-only stage that fuses into
    * whatever writes the retrieval index.
    */
  def chunks(docs: DataFrame, width: Int = 64, stride: Int = 48): DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      s"need 0 < stride <= width, got width=$width stride=$stride")
    val arr = TextOps.splitWords(TextOps.normalize(col("text")))
    val n = size(col("arr"))
    val nc = when(n <= width, lit(1))
      .otherwise(((n - lit(width) + lit(stride - 1)) / lit(stride)).cast("int") + 1)
    docs.select(col("doc_id"), arr.as("arr"))
      .filter(size(col("arr")) >= 1)
      .select(col("doc_id"), col("arr"),
        posexplode(sequence(lit(0), (nc - 1) * lit(stride), lit(stride))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("start_tok"),
        least(lit(width), size(col("arr")) - col("col")).cast("long").as("n_tok"),
        array_join(slice(col("arr"), col("col") + 1, lit(width)), " ").as("chunk"))
  }

  /** Whitespace + BPE-ish token counting: raw whitespace tokens plus
    * subword-like segments (runs of letters / digits / single punctuation),
    * the standard cheap proxy for LLM token budgeting.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(filter(split(col("text"), "\\s+"), w => length(w) > 0)).cast("long")
        .as("ws_tokens"),
      size(filter(split(lower(col("text")), "[^a-z0-9]+"), w => length(w) > 0)).cast("long")
        .as("alnum_tokens"))

  /** Per-source Zipf fit: OLS of ln(freq) on ln(rank) over the source's
    * term-frequency table — slope ≈ −1 is the healthy-natural-text
    * signature; a flat slope flags template/boilerplate floods and a
    * cliff flags deduped-to-death or synthetic sources. One row per
    * source: (source, n_terms, slope, intercept).
    *
    * Rank is the bucket-offset decomposition of Ranks, written out here
    * because its order leads with freq DESC: per-source global
    * rank by (freq DESC, word) without a source-vocabulary-sized window —
    * row_number runs per (source, freq, first-char) group and each
    * group's start offset is a running sum over the aggregated group-size
    * table, so the only unbounded-ish window sees |distinct (freq, pfx)|
    * aggregate rows (grows ~√corpus), never the vocabulary. Within one
    * freq, (first-char, word) ordering IS word ordering, so ranks equal
    * the single-window formulation exactly (ZipfSpec pins this).
    *
    * Numerics ride the stab/dsum discipline: per-term stab(6) logs and
    * products, exact DECIMAL sums (order-independent), one fixed IEEE op
    * sequence for the closed-form slope — bit-identical in both engines.
    */
  def zipfSlope(docs: DataFrame): DataFrame = {
    import graft.functions.Stable.{dsum, stab}
    val tf = docs
      .select(col("source"),
        explode(TextOps.splitWords(TextOps.normalize(col("text")))).as("word"))
      .filter(TextOps.isKeptToken(col("word")))
      .groupBy("source", "word").agg(count(lit(1)).as("freq"))
      .withColumn("pfx", substring(col("word"), 1, 1))
    // not Ranks: the order leads with freq DESC, not a string prefix, and
    // this offsets table grows with the distinct frequencies, so it is not
    // broadcast
    val offsets = tf.groupBy("source", "freq", "pfx").agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(
        sum("n").over(Window.partitionBy("source")
          .orderBy(desc("freq"), asc("pfx"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "freq", "pfx", "off")
    val ranked = tf.join(offsets, Seq("source", "freq", "pfx"))
      .withColumn("rank",
        col("off") + row_number().over(
          Window.partitionBy("source", "freq", "pfx").orderBy("word")))
    val terms = ranked
      .select(col("source"),
        stab(log(col("rank").cast("double")), 6).as("lx"),
        stab(log(col("freq").cast("double")), 6).as("ly"))
      .select(col("source"), col("lx"), col("ly"),
        stab(col("lx") * col("ly"), 6).as("pxy"),
        stab(col("lx") * col("lx"), 6).as("pxx"))
    val sums = terms.groupBy("source").agg(
      count(lit(1)).as("n_terms"),
      dsum(col("lx"), 6).as("sx"), dsum(col("ly"), 6).as("sy"),
      dsum(col("pxy"), 6).as("sxy"), dsum(col("pxx"), 6).as("sxx"))
    // raw (un-stab'd) slope feeds the intercept so both engines run the
    // identical op sequence; only the PROJECTED columns are stab'd
    val slope = (col("n_terms") * col("sxy") - col("sx") * col("sy")) /
      (col("n_terms") * col("sxx") - col("sx") * col("sx"))
    sums.select(col("source"), col("n_terms"),
      stab(slope, 6).as("slope"),
      stab((col("sy") - slope * col("sx")) / col("n_terms"), 6).as("intercept"))
  }
}
