package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for a large-scale training-data pipeline: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash. (Embedding-cosine near-dup
  * lives in Similarity.scala.)
  *
  * Scale posture: exact dedup is a single hash aggregate on a digest (never
  * group by the raw 100 KB text at 100 TB — group by its MD5). MinHash-LSH
  * is the scale path for near-dup: cost is O(docs × shingles) for signatures
  * plus a self-join on (band, band_hash) buckets whose size LSH keeps small;
  * the exact-Jaccard verify runs only on candidate pairs. The all-pairs
  * n-gram Jaccard here is the *oracle/verify* path — quadratic candidate
  * generation via the shingle inverted index, fine at test SF, and exactly
  * what LSH approximates. The actionable queries (clusters/keep) are fed by
  * the LSH pairs, never the all-pairs path.
  *
  * Caching: these operators build lazy plans and do NOT cache — a 100 TB
  * shingle table doesn't fit in executor memory, and a library-side
  * `.cache()` leaks CacheManager entries across invocations. Callers that
  * reuse the shingle table materialize it once (the query layer persists it
  * per SF dir as parquet, the pipeline-correct "write the intermediate"
  * move; see DedupQueries.persistedShingles).
  *
  * Hash tiers:
  *  - md5 (default): not because MD5 is fast, but because the DuckDB oracle
  *    computes the identical digest, making even the LSH bucketing
  *    byte-for-byte checkable cross-engine.
  *  - xxhash64 (`*Fast`): the production/bench tier — same LSH shape, ~an
  *    order of magnitude cheaper per shingle, no cross-engine digest (so
  *    the driver records a rows-only check for it).
  */
object Dedup {

  /** doc → distinct n-word shingles. Computed array-side (zip_with fold
    * over n shifted slices) so no per-token window/shuffle is needed; the
    * fold form avoids the interpreted transform(sequence, element_at)
    * path, measured 17× slower on the bigram case (Search.phraseTopK).
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val arr = TextOps.splitWords(TextOps.normalize(col("text")))
    val m = size(col("arr")) - (n - 1)
    val sh = (1 until n).foldLeft(slice(col("arr"), lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(col("arr"), lit(k + 1), m), (a, b) => concat_ws(" ", a, b))
    }
    docs.select(col("doc_id"), arr.as("arr"))
      .filter(size(col("arr")) >= n)
      .select(col("doc_id"), explode(sh).as("shingle"))
      .distinct()
  }

  /** Exact duplicate groups: group by content digest, keep the minimum
    * doc_id as canonical representative.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** 60-bit numeric key of a shingle (md5 hex prefix, same slice the
    * oracle computes). The Jaccard-verify self-joins shuffle and compare
    * these 8-byte keys instead of ~20-char strings; a 60-bit collision
    * (≈1e-13 per doc pair at corpus shingle counts) could at worst
    * overcount one intersection element — identically in both engines.
    */
  def shingleKey(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Fast-tier shingle key: xxhash64, full 64 bits, no oracle twin. */
  def shingleKeyFast(c: Column): Column = xxhash64(c)

  /** Jaccard from an intersection-count table `inter(doc_a, doc_b,
    * n_common)` and per-doc shingle counts: |A∪B| = |A|+|B|-|A∩B|.
    */
  private def jaccardFromInter(inter: DataFrame, sizes: DataFrame,
                               threshold: Double): DataFrame = {
    val j = col("n_common").cast("double") /
      (col("sa.n_sh") + col("sb.n_sh") - col("n_common"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), j.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** All-pairs n-gram Jaccard >= threshold via shingle inverted index —
    * the small-SF verify/oracle path (quadratic candidate generation).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.6): DataFrame =
    ngramJaccardPairsFrom(shingles(docs, n), threshold)

  /** Same, from a prebuilt shingle table (doc_id, shingle). */
  def ngramJaccardPairsFrom(sh: DataFrame, threshold: Double): DataFrame =
    ngramJaccardPairsFromKeys(
      sh.select(col("doc_id"), shingleKey(col("shingle")).as("shk")), threshold)

  /** Same, from a prebuilt shingle-KEY table (doc_id, shk BIGINT). The
    * md5-derived 60-bit key is the hot expression of every Jaccard-verify
    * plan (one digest + base conversion per shingle row, on BOTH sides of
    * the intersection self-join) — a pipeline materializes the key table
    * once per corpus next to the shingle table and the verify plans become
    * joins over a 2-column fixed-width parquet.
    */
  def ngramJaccardPairsFromKeys(shk: DataFrame, threshold: Double): DataFrame = {
    val sizes = shk.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // round-19: same tiny-scan repair as verifyCandidates — spread the
    // probe side round-robin, broadcast the build side, so the inverted-
    // index join runs on every core instead of AQE's one byte-sized
    // reduce task. No-op at production split counts.
    val inter = (if (Spread.isTiny(shk)) Spread(shk).as("a")
                   .join(broadcast(shk).as("b"),
                     col("a.shk") === col("b.shk") && col("a.doc_id") < col("b.doc_id"))
                 else shk.as("a").join(shk.as("b"),
                   col("a.shk") === col("b.shk") && col("a.doc_id") < col("b.doc_id")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    jaccardFromInter(inter, sizes, threshold)
  }

  /** CONTAINMENT pairs: C(A→B) = |A∩B| / |A| ≥ threshold — the
    * asymmetric near-dup test that catches a document embedded inside a
    * larger one (quoted articles, concatenated corpora), which symmetric
    * Jaccard misses when |B| ≫ |A| (J ≤ |A|/|B| no matter how complete
    * the inclusion). Emits one DIRECTED row per passing direction:
    * (doc_contained, doc_container, containment). Same intersection
    * shape as the Jaccard tier — shingle-key equi-join + count — so the
    * cost profile and the prefix/LSH scale paths carry over unchanged.
    */
  def containmentPairsFromKeys(shk: DataFrame, threshold: Double): DataFrame = {
    val sizes = shk.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // round-19: same tiny-scan repair as ngramJaccardPairsFromKeys
    val inter = (if (Spread.isTiny(shk)) Spread(shk).as("a")
                   .join(broadcast(shk).as("b"),
                     col("a.shk") === col("b.shk") && col("a.doc_id") < col("b.doc_id"))
                 else shk.as("a").join(shk.as("b"),
                   col("a.shk") === col("b.shk") && col("a.doc_id") < col("b.doc_id")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
    val aInB = inter.select(col("doc_a").as("doc_contained"),
      col("doc_b").as("doc_container"),
      (col("n_common").cast("double") / col("sa.n_sh")).as("containment"))
    val bInA = inter.select(col("doc_b").as("doc_contained"),
      col("doc_a").as("doc_container"),
      (col("n_common").cast("double") / col("sb.n_sh")).as("containment"))
    aInB.unionAll(bInA).filter(col("containment") >= threshold)
  }

  /** Containment with PREFIX FILTERING — identical output to
    * containmentPairsFromKeys from an ASYMMETRIC candidate join:
    * C(A→B) ≥ t implies |A∩B| ≥ ceil(t·|A|), so (same argument as the
    * Jaccard prefix) the globally-first common shingle ranks ≤
    * |A| − ceil(t·|A|) + 1 in A — candidates join A's prefix against
    * B's FULL shingle list (containment puts no lower bound on B's side).
    * Hot corpus-common shingles still appear on the B side, but the A
    * side's prefix excludes them, so the join cost is Σ_s df_prefix(s)·df(s)
    * instead of Σ_s df(s)² — the boilerplate blowup dies with df_prefix ≈ 0.
    */
  def containmentPairsPrefixFromKeys(shk: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round-19 tiny-scan repair throughout (see verifyCandidates /
    // prefixKeys): broadcast model-sized sides, explicit user
    // repartitions where AQE would coalesce the CPU-heavy stages to one
    // byte-sized reduce task. At scale: the shuffled form, unchanged.
    val tiny = Spread.isTiny(shk)
    val par = shk.sparkSession.sparkContext.defaultParallelism
    val sizes = shk.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val dfreq = shk.groupBy("shk").agg(count(lit(1)).as("df"))
    val base =
      if (tiny) shk.join(broadcast(dfreq), "shk").repartition(par, col("doc_id"))
      else shk.join(dfreq, "shk")
    val pref = base
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(asc("df"), asc("shk"))))
      .join(if (tiny) broadcast(sizes) else sizes, "doc_id")
      // same epsilon-nudged ceil as the Jaccard prefix (fp rounding may
      // only lengthen the prefix, never shorten it)
      .filter(col("rnk") <= col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select("doc_id", "shk")
    val cand = (if (tiny) pref.as("a").join(broadcast(shk).as("b"),
        col("a.shk") === col("b.shk") && col("a.doc_id") =!= col("b.doc_id"))
      else pref.as("a").join(shk.as("b"),
        col("a.shk") === col("b.shk") && col("a.doc_id") =!= col("b.doc_id")))
      .select(col("a.doc_id").as("doc_contained"), col("b.doc_id").as("doc_container"))
      .distinct()
    (if (tiny) cand.repartition(par)
        .join(broadcast(shk).as("x"), col("doc_contained") === col("x.doc_id"))
        .join(broadcast(shk).as("y"),
          col("doc_container") === col("y.doc_id") && col("x.shk") === col("y.shk"))
      else cand
        .join(shk.as("x"), col("doc_contained") === col("x.doc_id"))
        .join(shk.as("y"),
          col("doc_container") === col("y.doc_id") && col("x.shk") === col("y.shk")))
      .groupBy("doc_contained", "doc_container").agg(count(lit(1)).as("n_common"))
      .join(sizes.as("sa"), col("doc_contained") === col("sa.doc_id"))
      .select(col("doc_contained"), col("doc_container"),
        (col("n_common").cast("double") / col("sa.n_sh")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** EXACT Jaccard pairs with PREFIX FILTERING (AllPairs/PPJoin): identical
    * output to ngramJaccardPairsFromKeys, but candidate generation joins
    * only each doc's PREFIX — its |d| − ceil(t·|d|) + 1 rarest shingles
    * under a global (df asc, key asc) order — instead of every shingle.
    *
    * Why this is exact: J(A,B) ≥ t implies |A∩B| ≥ t·|A∪B| ≥
    * max(ceil(t·|A|), ceil(t·|B|)); the FIRST common shingle in the global
    * order has at least that many common shingles at-or-after it in both
    * docs, so its rank is ≤ |A| − ceil(t·|A|) + 1 in A and ≤ |B| −
    * ceil(t·|B|) + 1 in B — the SAME shingle sits in both prefixes, and
    * the prefix equi-join emits the pair. Verification then computes the
    * true intersection for candidates only.
    *
    * Why it matters at scale: the plain self-join's cost is Σ df² over
    * shingles — corpus-stopword 3-grams ("one of the") each contribute
    * df² pairs, a quadratic hot-key blowup no shuffle layout fixes. The
    * rare-first order pushes exactly those shingles out of every prefix,
    * so they never generate candidates; they are only ever counted inside
    * the per-candidate-pair intersection. The df table is one extra
    * aggregate over the key table, and the per-doc rank window partitions
    * by doc_id (bounded rows — never a corpus-wide straggler key).
    *
    * Measured (round 8, ZipfCorpus — a realistic skewed-df fixture with
    * boilerplate headers): candidates drop 51 646 → 10 at 500 docs and
    * 5 158 445 → 95 at 5 000 docs (sf0.1) — the plain join's candidate
    * set grows ≈ N²/16 on the header shingles while the prefix join's
    * grows ≈ N — and the benched `dedup_zipf_jaccard_prefix` beats the
    * plain twin in wall-clock at sf0.1 (BASELINE.md round-8 section).
    * On the driver's own 31-word-vocabulary corpus every shingle is
    * corpus-common, prefixes have nothing to exploit, and the extra
    * df/rank stages cost ~4× — so `dedup_ngram_jaccard` keeps the plain
    * form THERE and the prefix twin is correctness-gated (DedupSpec pins
    * output equality at three thresholds on both fixture families).
    */
  /** The per-doc rare-first PREFIX of a key table — the candidate-stage
    * core of the AllPairs/PPJoin family, exposed so the measurement
    * harnesses (DedupSpec's growth-law cases; BASELINE.md "The
    * prefix-filter crossover, measured") count candidates from THE
    * SHIPPED construction rather than a hand
    * mirror: an edit to the epsilon, tie-break, or prefix-length
    * formula changes the published numbers and the operator together.
    * Returns (doc_id, shk) — each doc's |d| − ceil(t·|d|) + 1 rarest
    * shingle keys under the global (df asc, key asc) order.
    */
  def prefixKeys(shk: DataFrame, threshold: Double): DataFrame =
    prefixKeysImpl(shk, threshold, Spread.isTiny(shk))

  private def prefixKeysImpl(shk: DataFrame, threshold: Double,
                             tiny: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = shk.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val dfreq = shk.groupBy("shk").agg(count(lit(1)).as("df"))
    // round-19 tiny-scan repair (see verifyCandidates): broadcast the
    // model-sized df/size tables and give the rank window an explicit
    // doc-keyed repartition (user repartitions satisfy the window's
    // required distribution and AQE never coalesces them) so the df-rank
    // stage runs on every core instead of one byte-sized reduce task.
    // At scale: unchanged shuffled joins.
    val base =
      if (tiny) shk.join(broadcast(dfreq), "shk")
        .repartition(shk.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      else shk.join(dfreq, "shk")
    base
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(asc("df"), asc("shk"))))
      .join(if (tiny) broadcast(sizes) else sizes, "doc_id")
      // ceil over an epsilon-nudged product: t·n computed in doubles can
      // land an ulp ABOVE an exact integer (e.g. t=0.55, n=20), and a bare
      // ceil then shortens the prefix by one — enough to drop a qualifying
      // pair. The nudge only ever LENGTHENS the prefix (more candidates,
      // never fewer), so exactness vs the plain join is preserved at every
      // threshold, not just the spec-pinned ones.
      .filter(col("rnk") <= col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select("doc_id", "shk")
  }

  /** Distinct candidate pairs whose prefixes share a key (doc_a < doc_b). */
  def prefixCandidates(shk: DataFrame, threshold: Double): DataFrame = {
    val tiny = Spread.isTiny(shk)
    val pref0 = prefixKeysImpl(shk, threshold, tiny)
    // tiny: an explicit shk-keyed user repartition keeps the self-join at
    // full parallelism, and the two identical exchanges are deduped by
    // ReuseExchange — the prefix is still computed once
    val pref = if (tiny) pref0.repartition(
      shk.sparkSession.sparkContext.defaultParallelism, col("shk")) else pref0
    pref.as("a").join(pref.as("b"),
        col("a.shk") === col("b.shk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def ngramJaccardPairsPrefixFromKeys(shk: DataFrame, threshold: Double): DataFrame = {
    val sizes = shk.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val cand = prefixCandidates(shk, threshold)
    // same tiny verify repair as verifyCandidates
    val inter =
      (if (Spread.isTiny(shk))
        cand.repartition(shk.sparkSession.sparkContext.defaultParallelism)
          .join(broadcast(shk).as("x"), col("doc_a") === col("x.doc_id"))
          .join(broadcast(shk).as("y"),
            col("doc_b") === col("y.doc_id") && col("x.shk") === col("y.shk"))
      else cand
        .join(shk.as("x"), col("doc_a") === col("x.doc_id"))
        .join(shk.as("y"),
          col("doc_b") === col("y.doc_id") && col("x.shk") === col("y.shk")))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    jaccardFromInter(inter, sizes, threshold)
  }

  /** Key-bucket profile of a (doc_id, shk) table — the routing statistic
    * for the plain-vs-prefix tier choice (round 13; SURVEY §2.9's known
    * limitation that "a human picks the tier" closed). `candPairs` is the
    * exact candidate-row count the PLAIN inverted-index join would
    * generate (Σ b·(b−1)/2 over bucket sizes b); `maxBucket/nDocs` is the
    * head-bucket corpus FRACTION — the quadratic-blowup signature (a head
    * key reaching a constant fraction α of docs makes the plain join's
    * cost α²n²/2, corpus-QUADRATIC, while O(1)-bounded buckets keep it
    * corpus-linear).
    */
  case class BucketProfile(nDocs: Long, nBuckets: Long, maxBucket: Long,
                           candPairs: Long) {
    def headFraction: Double =
      if (nDocs == 0) 0.0 else maxBucket.toDouble / nDocs

    /** The hottest bucket's share of the plain join's total candidate
      * mass, C(maxBucket, 2) / Σ C(b, 2) — the signal that actually
      * predicts whether prefix filtering pays (round 15): prefix wins
      * exactly when the quadratic cost CONCENTRATES in hot buckets its
      * rare-first prefixes exclude. The natural-corpus fixture exposed
      * the old head-DOC-fraction rule mis-routing: recombined prose has
      * a 0.17 head fraction (prefix by the old rule) but its candidate
      * mass lives in the long tail of medium buckets (head share
      * 0.0034-0.0085), where the prefix tier's extra passes cost
      * 2-15× (measured: containment 2.1 s plain vs 31.8 s prefix,
      * Jaccard 4.7 s vs 10.8 s — BASELINE.md round-15 table).
      */
    def headCandShare: Double =
      if (candPairs == 0) 0.0
      else maxBucket.toDouble * (maxBucket - 1) / 2.0 / candPairs
  }

  /** Compute the profile: two bounded aggregates over the key table (the
    * bucket-size histogram is |distinct keys| rows, the doc count one
    * row) — both map-side-combinable and corpus-LINEAR with a scan-sized
    * constant (measured ~0.6 s warm against the sf0.1 key tables;
    * BASELINE.md round-13 section). That buys insurance against the
    * measured 17× plain-tier cliff (50.1 s vs 3.0 s at one 13k-doc zipf
    * bucket — an outage at 100× scale), which is the trade: the probe
    * costs one cheap scan even where plain would have been fine. The
    * collect is TWO single-row reads — a driver-side ROUTING decision,
    * the same contract as AQE reading shuffle statistics, never corpus
    * data.
    */
  def bucketProfile(shk: DataFrame): BucketProfile = {
    val b = shk.groupBy("shk").agg(count(lit(1)).as("b"))
      .agg(count(lit(1)).as("n_buckets"), max("b").as("max_b"),
        sum(expr("b * (b - 1) div 2")).as("cand"))
      .collect()(0)
    val nDocs = shk.agg(countDistinct("doc_id")).collect()(0).getLong(0)
    // an EMPTY key table (every doc shorter than the shingle width)
    // leaves max/sum null — route as the all-zeros profile (either tier
    // returns an empty pair set) instead of NPE'ing on getLong
    if (b.isNullAt(1)) BucketProfile(nDocs, b.getLong(0), 0L, 0L)
    else BucketProfile(nDocs, b.getLong(0), b.getLong(1), b.getLong(2))
  }

  /** The routing rule, exposed separately so specs pin the DECISION on
    * each corpus profile without running the joins. Prefix when the
    * hottest bucket owns ≥ `headShare` of the candidate mass
    * (BucketProfile.headCandShare — C(max_b,2)/ΣC(b,2)): measured
    * profiles are documents 0.0015–0.0085 and the natural corpus
    * 0.0034–0.0085 (plain wins 2–15×, measured) vs zipf 0.16–0.55 (the
    * 17× cliff regime where prefix is mandatory). 0.05 sits an order of
    * magnitude from both sides of every measurement. Round 15 replaced
    * the head-DOC-fraction signal, which mis-routed the natural corpus
    * (0.17 head fraction but tail-distributed candidates) onto the 15×
    * slower prefix tier.
    */
  def usePrefixTier(p: BucketProfile, headShare: Double = 0.05): Boolean =
    p.headCandShare >= headShare

  /** Containment pairs with AUTOMATIC tier selection: probe the key
    * table's bucket profile, then run the plain inverted-index join
    * (low-collision corpora — smaller constant) or the prefix-filtered
    * join (head-heavy corpora — the only shape that survives a corpus
    * whose hottest key scales with n). Output is tier-invariant (the
    * tiers are spec-pinned equal), so the auto form shares the plain
    * form's oracle on every profile.
    */
  def containmentPairsAutoFromKeys(shk: DataFrame, threshold: Double,
                                   headShare: Double = 0.05): DataFrame =
    if (usePrefixTier(bucketProfile(shk), headShare))
      containmentPairsPrefixFromKeys(shk, threshold)
    else containmentPairsFromKeys(shk, threshold)

  /** Jaccard pairs with the same automatic plain-vs-prefix routing. */
  def ngramJaccardPairsAutoFromKeys(shk: DataFrame, threshold: Double,
                                    headShare: Double = 0.05): DataFrame =
    if (usePrefixTier(bucketProfile(shk), headShare))
      ngramJaccardPairsPrefixFromKeys(shk, threshold)
    else ngramJaccardPairsFromKeys(shk, threshold)

  /** One MinHash signature component: min over shingles of a 60-bit slice
    * (15 hex chars) of md5(seed || ":" || shingle), as a BIGINT.
    *
    * Two design points, both bench-driven:
    *  - BIGINT, not the digest string: a string min forces SortAggregate
    *    (Tungsten's mutable aggregation buffer holds only fixed-width
    *    primitives); the numeric min stays in HashAggregate.
    *  - TWO independent permutation keys per digest (chars 1-15 and
    *    17-31 — disjoint slices of a uniform hash are independent), so n
    *    signature components cost n/2 md5 evaluations — md5 is the hot
    *    expression of the whole LSH plan and is kept only because the
    *    DuckDB oracle computes the identical digest.
    */
  private def minhashCol(i: Int): Column = {
    val digest = md5(concat(lit(s"${i / 2}:"), col("shingle")))
    val start = if (i % 2 == 0) 1 else 17
    min(conv(substring(digest, start, 15), 16, 10).cast("long")).as(s"h$i")
  }

  /** Fast-tier MinHash component: min of xxhash64(seed, shingle). One
    * 64-bit hash per component (no digest slicing needed — xxhash64 is
    * cheap enough to run per component).
    */
  private def minhashColFast(i: Int): Column =
    min(xxhash64(lit(i), col("shingle"))).as(s"h$i")

  /** MinHash signatures: one row per doc, `numHashes` BIGINT columns. */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame =
    sh.groupBy("doc_id").agg(minhashCol(0), (1 until numHashes).map(minhashCol): _*)

  /** xxhash64 MinHash signatures (bench/production tier). */
  def minhashSignaturesFast(sh: DataFrame, numHashes: Int): DataFrame =
    sh.groupBy("doc_id").agg(minhashColFast(0), (1 until numHashes).map(minhashColFast): _*)

  /** Explode a signature table into (doc_id, band, bh) band-bucket rows.
    * All band hashes in ONE projection + explode — a union of per-band
    * selects would re-run the signature aggregation once per band.
    * `carry` keeps extra columns (e.g. the signature itself) on each band
    * row — the denormalization the streaming near-dup state uses so its
    * verify step never joins back to a full signature table.
    */
  private[graft] def bandRows(sig: DataFrame, bands: Int, rowsPerBand: Int,
                              bandHash: Seq[Column] => Column,
                              carry: Seq[String] = Nil): DataFrame = {
    val bandStructs = array((0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      struct(lit(b).as("band"), bandHash(cols).as("bh"))
    }: _*)
    sig.select(col("doc_id") +: carry.map(col) :+ explode(bandStructs).as("bb"): _*)
      .select(col("doc_id") +: carry.map(col) :+
        col("bb.band").as("band") :+ col("bb.bh").as("bh"): _*)
  }

  /** LSH candidate pairs from band rows: docs sharing any (band, bh). */
  private def lshCandidates(br: DataFrame): DataFrame =
    br.as("a").join(br.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Exact-Jaccard verify restricted to a candidate pair set: shuffles only
    * candidates' shingle keys, never an all-pairs join.
    */
  private def verifyCandidates(cand: DataFrame, shk: DataFrame,
                               threshold: Double): DataFrame = {
    val sizes = shk.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // Round-19 (guide §2.5): at bench scale the candidate×key shuffles
    // are byte-tiny, so AQE coalesces them to ONE reduce task while the
    // per-pair intersection work is CPU-bound — dedup_natural2_lsh
    // profiled wall ≈ summed task time (2.2 s, one effective task). When
    // the key table is a tiny single-split scan, spread the candidate
    // list round-robin (a user repartition, which AQE never coalesces)
    // and broadcast the key table into BOTH sides of the intersect —
    // every core verifies its slice of the pairs and the only remaining
    // shuffle is the pair-count aggregate. At scale shk has many splits,
    // the guard is false, and the shuffled form is unchanged.
    val inter =
      if (Spread.isTiny(shk)) {
        val c = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
        c.join(broadcast(shk).as("a"), col("doc_a") === col("a.doc_id"))
          .join(broadcast(shk).as("b"),
            col("doc_b") === col("b.doc_id") && col("a.shk") === col("b.shk"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      } else {
        cand.join(shk.as("a"), col("doc_a") === col("a.doc_id"))
          .join(shk.as("b"),
            col("doc_b") === col("b.doc_id") && col("a.shk") === col("b.shk"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      }
    jaccardFromInter(inter, sizes, threshold)
  }

  /** MinHash-LSH candidate pairs, verified with exact Jaccard (md5/oracle
    * tier). bands × rowsPerBand signature; docs sharing any band hash
    * become candidates; candidates below `threshold` exact-Jaccard drop.
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, bands: Int = 3,
                      rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame =
    minhashLshPairsFrom(shingles(docs, n), bands, rowsPerBand, threshold)

  /** Same, from a prebuilt shingle table (doc_id, shingle). */
  def minhashLshPairsFrom(sh: DataFrame, bands: Int, rowsPerBand: Int,
                          threshold: Double): DataFrame =
    minhashLshPairsFromSig(minhashSignatures(sh, bands * rowsPerBand), sh,
      bands, rowsPerBand, threshold)

  /** Same, from a prebuilt signature table (doc_id, h0..h{b·r-1}) plus the
    * shingle table for the exact-Jaccard verify. Signatures are a pure
    * function of the corpus and the hot expression of the whole LSH plan
    * (bands·rows/2 md5 evaluations per shingle) — a pipeline that runs
    * several LSH queries materializes them once and every downstream query
    * reads a narrow fixed-width parquet instead of re-hashing the corpus.
    * Note the SAME 12-column signature serves both the 3×4 and 6×2 banding:
    * bandRows only regroups columns.
    */
  def minhashLshPairsFromSig(sig: DataFrame, sh: DataFrame, bands: Int,
                             rowsPerBand: Int, threshold: Double): DataFrame =
    minhashLshPairsFromSigKeys(sig,
      sh.select(col("doc_id"), shingleKey(col("shingle")).as("shk")),
      bands, rowsPerBand, threshold)

  /** Same, with the verify side reading a prebuilt shingle-key table —
    * zero md5 anywhere in the resulting plan (band hashes ride the
    * persisted signature columns, the verify rides the persisted keys).
    */
  def minhashLshPairsFromSigKeys(sig: DataFrame, shk: DataFrame, bands: Int,
                                 rowsPerBand: Int, threshold: Double): DataFrame = {
    val br = bandRows(sig, bands, rowsPerBand,
      cols => md5(concat_ws(":", cols.map(_.cast("string")): _*)))
    val cand = lshCandidates(br)
    verifyCandidates(cand, shk, threshold)
  }

  /** MinHash estimator-quality card — the sketch analogue of ann_recall:
    * for every LSH candidate pair, the signature ESTIMATE (matching
    * components / k) next to the exact shingle Jaccard and their signed
    * error. This is the number that justifies the banding math (the
    * 1−(1−s^r)^b recall curves assume the estimator is unbiased with
    * √(s(1−s)/k) noise — here both quantities are measured, per pair).
    * Same shapes as the pair generator: banded equi-join candidates, one
    * signature self-join (k integer equality tests, row-local), one
    * candidates-only exact verify. est = m/k and exact = c/(u) are single
    * exact-integer IEEE divisions — engine-identical, no stabilizer.
    */
  def minhashEstimates(sig: DataFrame, shk: DataFrame,
                       bands: Int, rowsPerBand: Int): DataFrame = {
    val br = bandRows(sig, bands, rowsPerBand,
      cols => md5(concat_ws(":", cols.map(_.cast("string")): _*)))
    val cand = lshCandidates(br)
    val k = bands * rowsPerBand
    val matches = (0 until k)
      .map(i => when(col(s"a.h$i") === col(s"b.h$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / lit(k.toDouble)).as("est_j"))
    // LEFT join + coalesce-to-0: an LSH candidate with ZERO shared
    // shingles has no row in the exact-verify side (the shingle-key
    // equi-join produces nothing), and an inner join would silently drop
    // exactly the worst-error pairs (est_j > 0, exact_j = 0) this card
    // exists to surface (round-14 advice).
    est.join(verifyCandidates(cand, shk, 0.0), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("est_j"),
        coalesce(col("jaccard"), lit(0.0)).as("exact_j"),
        (col("est_j") - coalesce(col("jaccard"), lit(0.0))).as("err"))
  }

  /** xxhash64 tier of the same LSH shape: signatures, band hashes, and
    * verify keys all via xxhash64. The scale/production path — no
    * cross-engine digest, so it carries a rows-only driver check; its
    * semantics are pinned by DedupSpec against the md5 tier.
    */
  def minhashLshPairsFastFrom(sh: DataFrame, bands: Int, rowsPerBand: Int,
                              threshold: Double): DataFrame =
    minhashLshPairsFastFromSig(minhashSignaturesFast(sh, bands * rowsPerBand),
      sh, bands, rowsPerBand, threshold)

  /** Fast tier from a prebuilt xxhash64 signature table — like the md5
    * tier's `minhashLshPairsFromSig`, the signature aggregation is the hot
    * expression and a pipeline materializes it once per corpus.
    */
  def minhashLshPairsFastFromSig(sig: DataFrame, sh: DataFrame, bands: Int,
                                 rowsPerBand: Int, threshold: Double): DataFrame =
    minhashLshPairsFastFromSigKeys(sig,
      sh.select(col("doc_id"), shingleKeyFast(col("shingle")).as("shk")),
      bands, rowsPerBand, threshold)

  /** Fast tier over prebuilt signature AND shingle-key tables — the fully
    * materialized production layout (no hashing of corpus text anywhere in
    * the plan).
    */
  def minhashLshPairsFastFromSigKeys(sig: DataFrame, shk: DataFrame, bands: Int,
                                     rowsPerBand: Int, threshold: Double): DataFrame = {
    val br = bandRows(sig, bands, rowsPerBand, cols => xxhash64(cols: _*))
    val cand = lshCandidates(br)
    verifyCandidates(cand, shk, threshold)
  }

  /** Incremental near-dup detection — a NEW ingest batch probed against
    * the EXISTING corpus's MinHash artifacts. This is the per-snapshot
    * shape of a production crawl pipeline: the old corpus's signature and
    * shingle-key tables are already materialized from previous runs, so a
    * snapshot hashes ONLY its new documents and the old×old work is never
    * repeated. Candidates come from a band-bucket equi-join of the new
    * batch's band rows against the old index (not a self-join — no
    * doc_a < doc_b tie-break, the two sides are disjoint by construction);
    * the exact-Jaccard verify joins each side's own shingle keys. At
    * 100 TB corpus + a small daily batch, the new side is the build side
    * (AQE broadcasts it when it fits), making snapshot cost one scan of
    * the old band index — linear in corpus size, independent of history
    * depth. Same md5 band hash as [[minhashLshPairsFromSigKeys]], so the
    * same 12-column persisted signatures serve both and the DuckDB oracle
    * replays the bucketing digest-for-digest.
    *
    * Returns (new_doc, old_doc, jaccard) for verified pairs >= threshold
    * — the removal list for the batch (drop or link each matched new doc).
    */
  def minhashLshPairsIncremental(sigNew: DataFrame, sigOld: DataFrame,
                                 shkNew: DataFrame, shkOld: DataFrame,
                                 bands: Int, rowsPerBand: Int,
                                 threshold: Double): DataFrame = {
    val bh = (cols: Seq[Column]) => md5(concat_ws(":", cols.map(_.cast("string")): _*))
    val cand = bandRows(sigNew, bands, rowsPerBand, bh).as("a")
      .join(bandRows(sigOld, bands, rowsPerBand, bh).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("new_doc"), col("b.doc_id").as("old_doc"))
      .distinct()
    val szNew = shkNew.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val szOld = shkOld.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(shkNew.as("a"), col("new_doc") === col("a.doc_id"))
      .join(shkOld.as("b"),
        col("old_doc") === col("b.doc_id") && col("a.shk") === col("b.shk"))
      .groupBy("new_doc", "old_doc").agg(count(lit(1)).as("n_common"))
    val j = col("n_common").cast("double") /
      (col("sa.n_sh") + col("sb.n_sh") - col("n_common"))
    inter
      .join(szNew.as("sa"), col("new_doc") === col("sa.doc_id"))
      .join(szOld.as("sb"), col("old_doc") === col("sb.doc_id"))
      .select(col("new_doc"), col("old_doc"), j.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over near-duplicate pairs — the step that turns
    * pairwise similarity into an actionable dedup decision: every doc in a
    * component keeps the component's minimum doc_id as its canonical
    * representative.
    *
    * Min-label propagation with a driver convergence loop: each iteration
    * is one join + one aggregate; iterations = component diameter (near-dup
    * clusters are shallow — a handful of rounds in practice). This is the
    * standard large-graph CC shape (what GraphX/Pregel run internally).
    *
    * Lineage discipline (measured, not theoretical): the edge table and
    * every iteration's label state are localCheckpoint'ed. Caching alone is
    * NOT enough — a cached DataFrame reuses the computed blocks but its
    * logical plan still chains the entire upstream lineage (here the whole
    * LSH candidate pipeline), so every loop iteration re-analyzes and
    * re-optimizes a growing tree; profiled at ~2.5 s/iteration of pure
    * planner time on a 45-node graph. Checkpointing cuts each iteration's
    * plan to a leaf scan.
    *
    * Convergence test: min-label propagation only ever decreases labels, so
    * the label sum (exact, DECIMAL — no overflow at any corpus size) is
    * strictly decreasing until the fixed point. Comparing sums needs one
    * tiny aggregate on the fresh state per round — no join against the
    * previous state.
    *
    * Returns (doc_id, keep_id) for every doc that appears in a pair.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    val symC = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    // Round-19 (guide §1.2 — the profile showed the min-label loop at
    // ~1 job/round plus a labelSum collect/round, the dominant job count
    // of every clusters consumer): min-label propagation's fixed point is
    // the COMPONENT MINIMUM — a purely structural value with no
    // arithmetic to replicate — so when the checkpointed edge table is
    // already metadata-scale (the same ≤4-post-AQE-partition guard the
    // round-18 SinglePartition pin used), the whole convergence loop
    // collapses to ONE in-task union-find job over the edge list, with
    // union-by-min linking so find() lands on each component's minimum.
    // Output is the identical (doc_id, keep_id) table. At scale the
    // distributed loop below runs exactly as before.
    if (symC.rdd.getNumPartitions <= 4) return clustersUnionFind(symC)
    // Below: the distributed min-label loop — the ONLY path at scale.
    // (The round-18 tiny-side pins that used to live here are subsumed by
    // the union-find fast path, which covers exactly the same guard.)
    val sym = symC
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // empty pair set → sum NULL
    }
    var cp = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(false) // lazy: the labelSum below materializes it
    var labels = cp
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val prop = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), col("label"))
      val nextCp = labels.unionAll(prop)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint(false) // lazy: materialized by the labelSum job
      val next = nextCp
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      cp.unpersist()
      cp = nextCp
      labels = next
    }
    labels.select(col("node").as("doc_id"), col("label").as("keep_id"))
  }

  /** The metadata-scale fast path of [[clusters]]: union-find with
    * union-by-min over the single-partition symmetric edge checkpoint —
    * one job, no convergence loop. find() returns each component's
    * minimum node id (links always point toward the smaller root), which
    * IS min-label propagation's fixed point, so the output table is
    * value-identical to the distributed loop's.
    */
  private def clustersUnionFind(symC: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = symC.sparkSession
    val rows = symC.coalesce(1).select("src", "dst").rdd.mapPartitions { it =>
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val nodes = new scala.collection.mutable.LongMap[Unit]()
      it.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        nodes.update(a, ()); nodes.update(b, ())
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      nodes.keysIterator.map(n => Row(n, find(n)))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("keep_id", LongType, nullable = false))))
  }

  /** 16-bit SimHash per document. Bit j of the hash of token w is bit 3 of
    * the j-th hex nibble of md5(w) (i.e. nibble >= 8) — a fixed, engine-
    * portable projection of the digest. Each bit's sign is the tf-weighted
    * majority vote. Returns (doc_id, simhash BIGINT).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = Search.docWordCounts(docs) // row-local (doc_id, word, tf)
    val nib = col("h").substr(col("j") + 1, lit(1))
    val bitRows = toks
      .select(col("doc_id"), col("tf"), md5(col("word")).as("h"))
      .select(col("doc_id"), col("tf"), explode(sequence(lit(0), lit(15))).as("j"),
        col("h"))
      .select(col("doc_id"), col("j"),
        (when(nib.isin("8", "9", "a", "b", "c", "d", "e", "f"), col("tf"))
          .otherwise(-col("tf"))).as("vote"))
    bitRows.groupBy("doc_id", "j").agg(sum("vote").as("v"))
      .groupBy("doc_id")
      .agg(sum(when(col("v") > 0, pow(lit(2.0), col("j")).cast("long")).otherwise(0L))
        .as("simhash"))
  }

  /** 60-bit SimHash — the production-width tier. Bit j (0..59) is bit
    * (3 − j%4) of hex nibble j/4 of md5(w): 60 bits keeps every power of
    * two a positive BIGINT in both engines (bit 63 would overflow DuckDB's
    * checked shift). Same tf-weighted majority vote as the 16-bit tier.
    * At 16 bits the pigeonhole chunks have 64/32/32 values — every bucket
    * is corpus-sized at scale; 20-bit chunks give ~10⁶ buckets, so the
    * candidate join stays selective on a large corpus.
    */
  def simhash60(docs: DataFrame): DataFrame = {
    val toks = Search.docWordCounts(docs) // row-local (doc_id, word, tf)
    val nibble = conv(col("h").substr((col("j") / 4).cast("int") + 1, lit(1)), 16, 10)
      .cast("int")
    val bit = nibble.bitwiseAND(expr("shiftleft(1, 3 - j % 4)")) > 0
    val bitRows = toks
      .select(col("doc_id"), col("tf"), md5(col("word")).as("h"))
      .select(col("doc_id"), col("tf"), explode(sequence(lit(0), lit(59))).as("j"),
        col("h"))
      .select(col("doc_id"), col("j"),
        when(bit, col("tf")).otherwise(-col("tf")).as("vote"))
    bitRows.groupBy("doc_id", "j").agg(sum("vote").as("v"))
      .groupBy("doc_id")
      .agg(sum(when(col("v") > 0, expr("shiftleft(CAST(1 AS BIGINT), j)"))
        .otherwise(0L)).as("simhash"))
  }

  /** Pigeonhole pairs over the 60-bit hash: 3 disjoint 20-bit chunks for
    * hamming <= 2 (any such pair leaves one chunk untouched), exact
    * hamming as the join residual. Identical output to the all-pairs
    * formulation; candidate buckets are ~2^20 per chunk.
    */
  def simhashPairs60(sh: DataFrame, maxHamming: Int = 2): DataFrame = {
    require(maxHamming == 2, "chunk layout below is specialized to <=2")
    val mask20 = (1 << 20) - 1
    val chunks = array((0 until 3).map { k =>
      struct(lit(k).as("ck"),
        shiftright(col("simhash"), k * 20).bitwiseAND(lit(mask20.toLong)).as("cv"))
    }: _*)
    val cr = sh.select(col("doc_id"), col("simhash"), explode(chunks).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.ck").as("ck"), col("c.cv").as("cv"))
    cr.as("a").join(cr.as("b"),
        col("a.ck") === col("b.ck") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup pairs at hamming distance <= maxHamming, via
    * pigeonhole banding instead of an all-pairs nested-loop join: split the
    * 16-bit hash into maxHamming+1 disjoint chunks — any pair within the
    * distance budget differs in at most maxHamming bits, so at least one
    * chunk is untouched and the pair collides on an exact (chunk, value)
    * key. Candidate generation is therefore an equi-join on chunk buckets
    * (shuffle-hash-joinable at any scale); the exact hamming filter then
    * drops false candidates. Identical output to the all-pairs formulation.
    */
  def simhashPairs(sh: DataFrame, maxHamming: Int = 2): DataFrame = {
    require(maxHamming == 2, "chunk layout below is specialized to <=2")
    // 16 bits → 3 chunks: bits 0-5, 6-10, 11-15
    val chunks = array(
      struct(lit(0).as("ck"), col("simhash").bitwiseAND(63).as("cv")),
      struct(lit(1).as("ck"), shiftright(col("simhash"), 6).bitwiseAND(31).as("cv")),
      struct(lit(2).as("ck"), shiftright(col("simhash"), 11).bitwiseAND(31).as("cv")))
    val cr = sh.select(col("doc_id"), col("simhash"), explode(chunks).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.ck").as("ck"), col("c.cv").as("cv"))
    cr.as("a").join(cr.as("b"),
        col("a.ck") === col("b.ck") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair can collide on 2-3 chunks
  }

  /** Content-novelty filter for an ingest batch — the "seen this exact
    * document before?" gate a crawler runs on every snapshot (re-fetches
    * and mirror copies carry new ids but old bytes, so an id-level check
    * catches neither). Returns the batch rows whose text does NOT occur
    * in the corpus: semantically an exact anti-join of `batch` against
    * `corpus` on the content digest, executed as a Bloom-prefiltered
    * one: build ONE bloom over the corpus's xxhash64(text) keys
    * (Spark's native `BloomFilterAggregate` — `numBits/8`-byte
    * partials, OR merge; the streaming twin keeps the replayable
    * [[graft.functions.BloomAgg]] form for its state encoding), and
    * let the codegen'd `BloomFilterMightContain` probe split the batch:
    *
    *   - bloom says ABSENT → definitely novel (no false negatives):
    *     these rows — the overwhelming majority of a healthy crawl —
    *     never touch a join at all;
    *   - bloom says MAYBE (true duplicates + the ≈(1−e^(−kn/m))^k false
    *     positives) → exact verify via an md5-digest anti-join against
    *     the corpus.
    *
    * Bloom false positives are removed by the exact join and false
    * negatives don't exist, so the output is EXACTLY the anti-join —
    * the DuckDB twin needs no bloom arithmetic. At 100 TB the corpus
    * key set fits no broadcast and a plain anti-join shuffles the whole
    * batch against it; here only the maybe-slice does, and the filter
    * itself is a per-snapshot artifact a pipeline persists and reuses
    * (the streaming twin holds it as static state). The one driver-side
    * materialization is the built filter: `numBits/8` bytes (128 KiB at
    * the 2^20 default) — contract-bounded like the ANN centroid pulls,
    * independent of corpus size.
    *
    * Output: (doc_id, n_tokens), batch rows only, novel only.
    */
  def bloomNovelDocs(batch: DataFrame, corpus: DataFrame,
                     numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftglue
    // Build + probe ride Spark's NATIVE bloom expressions (the pair that
    // powers its runtime-filter join rewrite) instead of a Scala UDF over
    // a closure-captured bitset (round-13 review cleanup): the probe is
    // codegen'd and the filter bytes travel as a plan literal, not a
    // closure. Spark sizes k itself as round(numBits/n·ln2), so the
    // requested `numHashes` maps to the estimated-items hint that makes
    // that formula land on it; k only shapes the FP rate — correctness
    // is the exact verify join either way.
    val nItems = math.max(1L, math.round(numBits * math.log(2) / numHashes))
    val bloomBytes: Array[Byte] = corpus
      .select(xxhash64(col("text")).as("h"))
      .select(graftglue.column(new BloomFilterAggregate(
          graftglue.expression(col("h")),
          Literal(nItems), Literal(numBits.toLong)).toAggregateExpression())
        .as("bf"))
      .head().getAs[Array[Byte]]("bf") // numBits/8 bytes, bounded
    def might(c: org.apache.spark.sql.Column) = graftglue.column(
      BloomFilterMightContain(Literal(bloomBytes), graftglue.expression(c)))
    val keyed = batch.select(col("doc_id"),
      size(graft.functions.TextOps.splitWords(col("text"))).cast("long").as("n_tokens"),
      xxhash64(col("text")).as("xh"), md5(col("text")).as("mh"))
    val novel = keyed.filter(!might(col("xh")))
    val maybe = keyed.filter(might(col("xh")))
      .join(corpus.select(md5(col("text")).as("mh")).distinct(), Seq("mh"), "left_anti")
    novel.select("doc_id", "n_tokens")
      .unionByName(maybe.select("doc_id", "n_tokens"))
  }
}
