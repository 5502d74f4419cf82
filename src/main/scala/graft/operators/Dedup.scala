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
  * Hash tiers: every key, signature and band hash comes from one [[Tier]]
  * (`Md5`, the default, or `Xx`); the pair engine below is tier-blind.
  */
object Dedup {

  /** doc → distinct n-word shingles, computed array-side
    * (TextOps.ngrams). */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
        TextOps.splitWords(TextOps.normalize(col("text"))).as("arr"))
      .filter(size(col("arr")) >= n)
      .select(col("doc_id"), explode(TextOps.ngrams(col("arr"), n)).as("shingle"))
      .distinct()

  /** Exact duplicate groups: group by content digest, keep the minimum
    * doc_id as canonical representative.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** A hash tier: the three hashes the pair engine draws from one hash
    * family — the shingle `key` the verify intersects on, the per-shingle
    * MinHash `component` (signature column h_i is its min over a doc's
    * shingles) and the LSH `bandHash` over a band's signature columns.
    * Every value is a fixed-width BIGINT (or a digest string for the md5
    * band hash): a string min forces SortAggregate (Tungsten's mutable
    * aggregation buffer holds only fixed-width primitives), a numeric min
    * stays in HashAggregate.
    */
  sealed trait Tier {
    def key(c: Column): Column
    def component(i: Int, shingle: Column): Column
    def bandHash(cols: Seq[Column]): Column
  }

  /** md5, the default tier: not because MD5 is fast, but because the
    * DuckDB oracle computes the identical digest, making even the LSH
    * bucketing byte-for-byte checkable cross-engine. Keys and components
    * are 60-bit slices (15 hex chars) of a digest — a positive BIGINT in
    * both engines. A 60-bit key collision (≈1e-13 per doc pair at corpus
    * shingle counts) could at worst overcount one intersection element —
    * identically in both engines. Components come TWO per digest (chars
    * 1-15 and 17-31 of md5(seed || ":" || shingle) — disjoint slices of a
    * uniform hash are independent), so n components cost n/2 md5
    * evaluations, md5 being the hot expression of the whole LSH plan.
    */
  case object Md5 extends Tier {
    private def slice60(digest: Column, start: Int): Column =
      conv(substring(digest, start, 15), 16, 10).cast("long")
    def key(c: Column): Column = slice60(md5(c), 1)
    def component(i: Int, shingle: Column): Column =
      slice60(md5(concat(lit(s"${i / 2}:"), shingle)), if (i % 2 == 0) 1 else 17)
    def bandHash(cols: Seq[Column]): Column =
      md5(concat_ws(":", cols.map(_.cast("string")): _*))
  }

  /** xxhash64, the production/bench tier: the same LSH shape at ~an order
    * of magnitude less cost per shingle — one full 64-bit hash per key and
    * per component. Its DuckDB twins replay XXH64 in SQL (XxhashSql).
    */
  case object Xx extends Tier {
    def key(c: Column): Column = xxhash64(c)
    def component(i: Int, shingle: Column): Column = xxhash64(lit(i), shingle)
    def bandHash(cols: Seq[Column]): Column = xxhash64(cols: _*)
  }

  /** Numeric key of a shingle under `tier`. The Jaccard-verify self-joins
    * shuffle and compare these 8-byte keys instead of ~20-char strings.
    */
  def shingleKey(c: Column, tier: Tier = Md5): Column = tier.key(c)

  /** The (doc_id, shk) key table of a (doc_id, shingle) table. */
  def shingleKeys(sh: DataFrame, tier: Tier = Md5): DataFrame =
    sh.select(col("doc_id"), shingleKey(col("shingle"), tier).as("shk"))

  private def sizes(shk: DataFrame): DataFrame =
    shk.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))

  /** Common-key counts `(l, r, n_common)` between two (doc_id, shk) key
    * tables — the one intersection of the pair engine. Without `cand` it
    * is the inverted-index self-join: every pair sharing a key, as
    * (doc_a, doc_b) with doc_a < doc_b. With `cand(l, r)` it counts the
    * common keys of those candidate pairs only (l's keys from `a`, r's
    * from `b`), shuffling candidates' keys, never an all-pairs join.
    *
    * The tiny/scale choice of every intersection is made here (round 19,
    * guide §2.5). When both sides are one tiny key table (a single-split
    * scan or a small checkpoint: `Spread.isTiny`), the key shuffles are
    * byte-tiny and AQE coalesces them to ONE reduce task while the
    * per-pair work is CPU-bound — dedup_natural2_lsh profiled wall ≈
    * summed task time (2.2 s, one effective task). So the probe side is
    * spread round-robin (a user repartition, which AQE never coalesces)
    * and the key table is broadcast into the build sides: every core
    * intersects its slice and the pair-count aggregate is the only
    * shuffle left. Otherwise — many splits, or two different tables (the
    * incremental probe, whose `b` is the corpus index) — the shuffled
    * joins run.
    */
  private def intersect(a: DataFrame, b: DataFrame,
                        cand: Option[DataFrame] = None): DataFrame = {
    val tiny = (a eq b) && Spread.isTiny(a)
    def side(k: DataFrame) = if (tiny) broadcast(k) else k
    val nCommon = count(lit(1)).as("n_common")
    cand match {
      case None =>
        (if (tiny) Spread(a) else a).as("x")
          .join(side(b).as("y"),
            col("x.shk") === col("y.shk") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .agg(nCommon)
      case Some(c) =>
        val Array(l, r) = c.columns
        (if (tiny) c.repartition(c.sparkSession.sparkContext.defaultParallelism) else c)
          .join(side(a).as("x"), col(l) === col("x.doc_id"))
          .join(side(b).as("y"), col(r) === col("y.doc_id") && col("x.shk") === col("y.shk"))
          .groupBy(l, r).agg(nCommon)
    }
  }

  /** Exact Jaccard of each intersected pair, kept at >= threshold:
    * |A∪B| = |A|+|B|-|A∩B|, sizes from each side's key table. The only
    * Jaccard formula of the engine; returns (l, r, jaccard).
    */
  private def jaccardPairs(a: DataFrame, b: DataFrame, cand: Option[DataFrame],
                           threshold: Double): DataFrame = {
    val inter = intersect(a, b, cand)
    val Array(l, r, _) = inter.columns
    val j = col("n_common").cast("double") /
      (col("sa.n_sh") + col("sb.n_sh") - col("n_common"))
    inter
      .join(sizes(a).as("sa"), col(l) === col("sa.doc_id"))
      .join(sizes(b).as("sb"), col(r) === col("sb.doc_id"))
      .select(col(l), col(r), j.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** All-pairs n-gram Jaccard >= threshold via shingle inverted index —
    * the small-SF verify/oracle path (quadratic candidate generation).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.6): DataFrame =
    ngramJaccardPairsFrom(shingles(docs, n), threshold)

  /** Same, from a prebuilt shingle table (doc_id, shingle). */
  def ngramJaccardPairsFrom(sh: DataFrame, threshold: Double): DataFrame =
    ngramJaccardPairsFromKeys(shingleKeys(sh), threshold)

  /** Same, from a prebuilt shingle-KEY table (doc_id, shk BIGINT). The
    * md5-derived 60-bit key is the hot expression of every Jaccard-verify
    * plan (one digest + base conversion per shingle row, on BOTH sides of
    * the intersection self-join) — a pipeline materializes the key table
    * once per corpus next to the shingle table and the verify plans become
    * joins over a 2-column fixed-width parquet.
    */
  def ngramJaccardPairsFromKeys(shk: DataFrame, threshold: Double): DataFrame =
    jaccardPairs(shk, shk, None, threshold)

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
    val inter = intersect(shk, shk)
      .join(sizes(shk).as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes(shk).as("sb"), col("doc_b") === col("sb.doc_id"))
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
    // tiny (see prefixKeysImpl): the full key list is broadcast into the
    // candidate join too; at scale the shuffled join
    val tiny = Spread.isTiny(shk)
    val cand = prefixKeysImpl(shk, threshold, tiny).as("a")
      .join((if (tiny) broadcast(shk) else shk).as("b"),
        col("a.shk") === col("b.shk") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_contained"), col("b.doc_id").as("doc_container"))
      .distinct()
    intersect(shk, shk, Some(cand))
      .join(sizes(shk).as("sa"), col("doc_contained") === col("sa.doc_id"))
      .select(col("doc_contained"), col("doc_container"),
        (col("n_common").cast("double") / col("sa.n_sh")).as("containment"))
      .filter(col("containment") >= threshold)
  }

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
    val dfreq = shk.groupBy("shk").agg(count(lit(1)).as("df"))
    // round-19 tiny-scan repair (see intersect): broadcast the
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
      .join(if (tiny) broadcast(sizes(shk)) else sizes(shk), "doc_id")
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
  def ngramJaccardPairsPrefixFromKeys(shk: DataFrame, threshold: Double): DataFrame =
    jaccardPairs(shk, shk, Some(prefixCandidates(shk, threshold)), threshold)

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

  /** MinHash signatures: one row per doc, `numHashes` BIGINT columns
    * h0..h{n-1}, column h_i the min of the tier's component i over the
    * doc's shingles.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int, tier: Tier = Md5): DataFrame = {
    val h = (i: Int) => min(tier.component(i, col("shingle"))).as(s"h$i")
    sh.groupBy("doc_id").agg(h(0), (1 until numHashes).map(h): _*)
  }

  /** Explode a signature table into (doc_id, band, bh) band-bucket rows.
    * All band hashes in ONE projection + explode — a union of per-band
    * selects would re-run the signature aggregation once per band.
    * `carry` keeps extra columns (e.g. the signature itself) on each band
    * row — the denormalization the streaming near-dup state uses so its
    * verify step never joins back to a full signature table.
    */
  private[graft] def bandRows(sig: DataFrame, bands: Int, rowsPerBand: Int,
                              tier: Tier, carry: Seq[String] = Nil): DataFrame = {
    val bandStructs = array((0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      struct(lit(b).as("band"), tier.bandHash(cols).as("bh"))
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

  /** MinHash-LSH candidate pairs, verified with exact Jaccard (md5/oracle
    * tier). bands × rowsPerBand signature; docs sharing any band hash
    * become candidates; candidates below `threshold` exact-Jaccard drop.
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, bands: Int = 3,
                      rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame =
    minhashLshPairsFrom(shingles(docs, n), bands, rowsPerBand, threshold)

  /** Same, from a prebuilt shingle table (doc_id, shingle): signatures,
    * band hashes and verify keys all from `tier`. The exact-Jaccard
    * verify makes every emitted pair a true >= threshold pair whatever
    * the tier; DedupSpec pins the xxhash64 tier against the md5 one.
    */
  def minhashLshPairsFrom(sh: DataFrame, bands: Int, rowsPerBand: Int,
                          threshold: Double, tier: Tier = Md5): DataFrame =
    minhashLshPairsFromSigKeys(minhashSignatures(sh, bands * rowsPerBand, tier),
      shingleKeys(sh, tier), bands, rowsPerBand, threshold, tier)

  /** Same, from a prebuilt signature table (doc_id, h0..h{b·r-1}) and
    * shingle-key table (doc_id, shk), both of `tier` — the fully
    * materialized layout, with no hashing of corpus text anywhere in the
    * plan (band hashes ride the signature columns, the verify rides the
    * keys). Signatures are a pure function of the corpus and the hot
    * expression of the whole LSH plan, so a pipeline that runs several LSH
    * queries materializes them once and every downstream query reads a
    * narrow fixed-width parquet. The SAME 12-column signature serves both
    * the 3×4 and 6×2 banding: bandRows only regroups columns.
    */
  def minhashLshPairsFromSigKeys(sig: DataFrame, shk: DataFrame, bands: Int,
                                 rowsPerBand: Int, threshold: Double,
                                 tier: Tier = Md5): DataFrame =
    jaccardPairs(shk, shk, Some(lshCandidates(bandRows(sig, bands, rowsPerBand, tier))),
      threshold)

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
    val cand = lshCandidates(bandRows(sig, bands, rowsPerBand, Md5))
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
    est.join(jaccardPairs(shk, shk, Some(cand), 0.0), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("est_j"),
        coalesce(col("jaccard"), lit(0.0)).as("exact_j"),
        (col("est_j") - coalesce(col("jaccard"), lit(0.0))).as("err"))
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
    * depth. Same tier band hash as [[minhashLshPairsFromSigKeys]], so the
    * same 12-column persisted signatures serve both and (md5 tier) the
    * DuckDB oracle replays the bucketing digest-for-digest.
    *
    * Returns (new_doc, old_doc, jaccard) for verified pairs >= threshold
    * — the removal list for the batch (drop or link each matched new doc).
    */
  def minhashLshPairsIncremental(sigNew: DataFrame, sigOld: DataFrame,
                                 shkNew: DataFrame, shkOld: DataFrame,
                                 bands: Int, rowsPerBand: Int,
                                 threshold: Double, tier: Tier = Md5): DataFrame = {
    val cand = bandRows(sigNew, bands, rowsPerBand, tier).as("a")
      .join(bandRows(sigOld, bands, rowsPerBand, tier).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("new_doc"), col("b.doc_id").as("old_doc"))
      .distinct()
    jaccardPairs(shkNew, shkOld, Some(cand), threshold)
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
    if (Spread.isTiny(symC)) return clustersUnionFind(symC)
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

  /** SimHash core: each token's md5 digest `h` casts a tf-weighted vote
    * on every bit j in 0 until `bits` (+tf where `bitSet` holds for
    * (h, j), −tf elsewhere), and bit j of the doc's hash is set where its
    * votes sum positive; `pow2` is 2^j as a BIGINT. The bit projection is
    * the tier's argument — each must match its DuckDB twin exactly.
    * Returns (doc_id, simhash BIGINT).
    */
  private def simhashOf(docs: DataFrame, bits: Int, bitSet: Column,
                        pow2: Column): DataFrame =
    Search.docWordCounts(docs) // row-local (doc_id, word, tf)
      .select(col("doc_id"), col("tf"), md5(col("word")).as("h"))
      .select(col("doc_id"), col("tf"), explode(sequence(lit(0), lit(bits - 1))).as("j"),
        col("h"))
      .select(col("doc_id"), col("j"),
        when(bitSet, col("tf")).otherwise(-col("tf")).as("vote"))
      .groupBy("doc_id", "j").agg(sum("vote").as("v"))
      .groupBy("doc_id")
      .agg(sum(when(col("v") > 0, pow2).otherwise(0L)).as("simhash"))

  /** 16-bit SimHash per document. Bit j of the hash of token w is bit 3 of
    * the j-th hex nibble of md5(w) (i.e. nibble >= 8) — a fixed, engine-
    * portable projection of the digest.
    */
  def simhash(docs: DataFrame): DataFrame =
    simhashOf(docs, 16,
      col("h").substr(col("j") + 1, lit(1)).isin("8", "9", "a", "b", "c", "d", "e", "f"),
      pow(lit(2.0), col("j")).cast("long"))

  /** 60-bit SimHash — the production-width tier. Bit j (0..59) is bit
    * (3 − j%4) of hex nibble j/4 of md5(w): 60 bits keeps every power of
    * two a positive BIGINT in both engines (bit 63 would overflow DuckDB's
    * checked shift). At 16 bits the pigeonhole chunks have 64/32/32
    * values — every bucket is corpus-sized at scale; 20-bit chunks give
    * ~10⁶ buckets, so the candidate join stays selective on a large corpus.
    */
  def simhash60(docs: DataFrame): DataFrame = {
    val nibble = conv(col("h").substr((col("j") / 4).cast("int") + 1, lit(1)), 16, 10)
      .cast("int")
    simhashOf(docs, 60, nibble.bitwiseAND(expr("shiftleft(1, 3 - j % 4)")) > 0,
      expr("shiftleft(CAST(1 AS BIGINT), j)"))
  }

  /** Near-dup pairs at hamming distance <= `maxHamming` over the
    * `bits`-wide hash column `hash` of `df`, by pigeonhole blocking
    * instead of an all-pairs nested-loop join: each row emits candidate
    * keys such that any two hashes within the budget share at least one,
    * so candidate generation is an EQUI-join on the key (shuffle-hash-
    * joinable at any scale), and the exact bit_count verify drops the
    * false candidates — identical output to the all-pairs formulation.
    * The keys follow from `maxHamming`:
    *   - 1: the hash and its `bits` one-bit flips (two hashes one bit
    *     apart meet on a flip of either);
    *   - >= 2: `maxHamming + 1` disjoint chunks, the first
    *     `bits % (maxHamming + 1)` one bit wider (16 bits → 6/5/5,
    *     60 → 20/20/20) — a pair differing in at most maxHamming bits
    *     leaves one chunk untouched. A key is the chunk value with the
    *     chunk index in its high word.
    * A pair can meet on several keys, hence the distinct. Null hashes
    * never pair. Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    */
  def hammingPairs(df: DataFrame, id: String, hash: String, bits: Int,
                   maxHamming: Int): DataFrame = {
    require(bits >= 1 && bits <= 64 && maxHamming >= 1,
      s"hammingPairs: $bits bits, maxHamming $maxHamming")
    val h = col(hash)
    val keys =
      if (maxHamming == 1) h +: (0 until bits).map(k => h.bitwiseXOR(lit(1L << k)))
      else {
        val n = maxHamming + 1
        val widths = (0 until n).map(k => bits / n + (if (k < bits % n) 1 else 0))
        widths.indices.map { k =>
          shiftright(h, widths.take(k).sum).bitwiseAND(lit((1L << widths(k)) - 1))
            .bitwiseOR(lit(k.toLong << 32))
        }
      }
    val kr = df.filter(h.isNotNull).select(col(id), h, explode(array(keys: _*)).as("key"))
    kr.as("a").join(kr.as("b"),
        col("a.key") === col("b.key") && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"),
        bit_count(col(s"a.$hash").bitwiseXOR(col(s"b.$hash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
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
