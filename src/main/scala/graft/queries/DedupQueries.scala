package graft.queries

import graft.GraftQuery
import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deduplication suite over `documents`, each with a DuckDB oracle — the
  * oracle reproduces even the MinHash/LSH bucketing because both engines
  * compute identical md5 digests.
  *
  * The actionable queries (`dedup_clusters`/`dedup_keep`) are fed by the
  * MinHash-LSH pair generator — banded candidates, linear in corpus size.
  * The quadratic all-pairs Jaccard formulation survives only as the
  * explicitly-named `dedup_clusters_exactverify` twin (correctness-gated,
  * excluded from the bench) and as `dedup_ngram_jaccard`, the pair-level
  * verify path.
  */
object DedupQueries {

  /** The shingle table is shared by five dedup queries (and is pure
    * function of the corpus), so it's materialized once per SF dir as
    * parquet — the pipeline-correct "write the intermediate" move a 100 TB
    * run would make, and what keeps the library operators cache-free.
    */
  def persistedShingles(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "shingles", "documents.parquet", "_n3") {
      Dedup.shingles(Tables.documents(s, d), 3)
    }

  /** The 60-bit md5-prefix shingle-KEY table, materialized once per SF dir
    * next to the shingle table. Every Jaccard verify (the all-pairs oracle
    * path and the candidate-restricted LSH verifies) self-joins on these
    * keys; deriving them in-plan put one md5 + base conversion per shingle
    * row on BOTH join sides — the dominant cost of `dedup_ngram_jaccard`
    * (2.9 s of the round-6 bench). Persisted, the verify plans read a
    * 2-column fixed-width parquet and hash nothing.
    */
  def persistedShingleKeys(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "shk", "documents.parquet", "_n3") {
      Dedup.shingleKeys(persistedShingles(s, d))
    }

  /** Natural-CORPUS fixture artifacts (round 15): SF-independent (the
    * fixture is committed bytes), so they key off the fixtures dir and
    * the parquet's own stat — one cache entry shared by every SF run.
    */
  private def fixturesDir: String =
    new java.io.File(graft.sources.NaturalCorpus.CorpusPath).getParent

  def persistedNaturalShingleKeys(s: SparkSession): DataFrame =
    Persisted(s, fixturesDir, "natshk", "natural_corpus.parquet", "_n3") {
      Dedup.shingleKeys(Dedup.shingles(graft.sources.NaturalCorpus.corpus(s)))
    }

  def persistedNaturalSignatures(s: SparkSession): DataFrame =
    Persisted(s, fixturesDir, "natsig", "natural_corpus.parquet", "_k12") {
      Dedup.minhashSignatures(
        Dedup.shingles(graft.sources.NaturalCorpus.corpus(s)), 12)
    }

  /** xxhash64 (fast-tier) shingle keys, persisted like the md5 tier. */
  def persistedShingleKeysFast(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "shkfast", "documents.parquet", "_n3") {
      Dedup.shingleKeys(persistedShingles(s, d), Dedup.Xx)
    }

  /** The generated Zipf corpus itself, persisted — the md5-heavy token
    * synthesis (2 md5 calls × ~40 tokens × every doc, inside an
    * interpreted index-lambda that has no slice form) is the expensive
    * half of every zipf artifact build, and FOUR builds (shk/sig ×
    * plain/mutated) used to re-run it. Generate once per SF dir, read
    * parquet thereafter.
    */
  def persistedZipfCorpus(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "zipfdocs", "documents.parquet", "") {
      graft.sources.ZipfCorpus.synth(Tables.documents(s, d).select("doc_id"))
    }

  /** The generated mutated-copy Zipf corpus, persisted like the plain one. */
  def persistedZipfMutCorpus(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "zipfmdocs", "documents.parquet", "") {
      graft.sources.ZipfCorpus.synthMutated(Tables.documents(s, d).select("doc_id"))
    }

  /** Shingle keys of the Zipf-vocabulary corpus (graft.sources.ZipfCorpus
    * over this SF dir's doc_id range), persisted like the main tier — the
    * fixture where prefix filtering and bucket selectivity are MEASURED
    * rather than argued (the primary corpus's 31-word vocabulary makes
    * every shingle common).
    */
  def persistedZipfShingleKeys(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "zipfshk", "documents.parquet", "_n3") {
      Dedup.shingleKeys(Dedup.shingles(persistedZipfCorpus(s, d), 3))
    }

  /** md5-tier MinHash signatures of the zipf corpus, persisted like the
    * main tier — the LSH production path exercised (and hash-gated) on a
    * realistic df distribution.
    */
  def persistedZipfSignatures(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "zipfsig", "documents.parquet", "_n3") {
      Dedup.minhashSignatures(
        Dedup.shingles(persistedZipfCorpus(s, d), 3),
        SigHashes)
    }

  /** Shingle keys of the MUTATED zipf corpus (copies carry a 2 %
    * per-token mutation rate → a graded Jaccard distribution straddling
    * the 0.8 threshold — see ZipfCorpus.synthMutated), persisted like
    * the exact-copy tier.
    */
  def persistedZipfMutShingleKeys(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "zipfmshk", "documents.parquet", "_n3") {
      Dedup.shingleKeys(Dedup.shingles(persistedZipfMutCorpus(s, d), 3))
    }

  /** md5-tier MinHash signatures of the mutated zipf corpus. */
  def persistedZipfMutSignatures(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "zipfmsig", "documents.parquet", "_n3") {
      Dedup.minhashSignatures(
        Dedup.shingles(persistedZipfMutCorpus(s, d), 3),
        SigHashes)
    }

  /** MinHash signature columns shared by every md5-tier LSH query: 12
    * hashes serve both the 3×4 parity banding and the 6×2 keep banding
    * (banding only regroups columns). */
  val SigHashes = 12

  /** The md5 MinHash signature table, materialized once per SF dir — like
    * the shingle table, it's a pure function of the corpus, and it's the
    * single hottest expression of the LSH plans (6 md5 evaluations per
    * shingle). Persisting it turns the parity-tier queries into reads of a
    * 13-column fixed-width parquet: the same "write the intermediate" move
    * a 100 TB dedup pipeline makes between its signature and banding
    * stages.
    */
  def persistedSignatures(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "sigs", "documents.parquet", s"_n3_h$SigHashes") {
      Dedup.minhashSignatures(persistedShingles(s, d), SigHashes)
    }

  /** The xxhash64 (fast-tier) MinHash signature table, materialized once
    * per SF dir — the production twin of `persistedSignatures`. Without it
    * `dedup_minhash_fast` re-aggregated 12 xxhash64 mins over the shingle
    * table on every run (the only LSH query still hashing the corpus
    * in-plan, and the non-noise part of its round-5 bench regression).
    */
  def persistedSignaturesFast(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "sigsfast", "documents.parquet", s"_n3_h$SigHashes") {
      Dedup.minhashSignatures(persistedShingles(s, d), SigHashes, Dedup.Xx)
    }

  /** The 16-bit SimHash table, materialized once per SF dir — a pure
    * corpus function like shingles/signatures. The pairs query's
    * pigeonhole self-join previously re-derived the whole simhash subtree
    * (tokenize → tf → 16-way explode → two aggregations) on BOTH join
    * sides; now both sides read a 2-column parquet.
    */
  def persistedSimhash(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "simhash", "documents.parquet") {
      Dedup.simhash(Tables.documents(s, d))
    }

  /** The 60-bit SimHash table (production width), materialized once per
    * SF dir like the 16-bit tier. */
  def persistedSimhash60(s: SparkSession, d: String): DataFrame =
    Persisted(s, d, "simhash60", "documents.parquet") {
      Dedup.simhash60(Tables.documents(s, d))
    }

  /** Distinct 3-word shingles per doc (DuckDB twin of Dedup.shingles). */
  val shingleCte: String =
    """d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
      |  FROM d, unnest(range(1, len(arr) - 1)) t(i)
      |  WHERE len(arr) >= 3)""".stripMargin

  /** Twin of Dedup.shingleKey: the verify joins run on 60-bit md5-prefix
    * keys in both engines.
    */
  val shkCte: String =
    """shk AS (
      |  SELECT doc_id, CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shk
      |  FROM sh)""".stripMargin

  val jaccardTail: String =
    """sz AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM shk a JOIN shk b ON a.shk = b.shk AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Prefix-filtered twin of `jaccardTail` — same (sz, inter) interface,
    * same pair set BY THE PREFIX-FILTER THEOREM (see Dedup.prefixKeys: for
    * J ≥ t the globally-first common shingle sits in both docs' rare-first
    * prefixes, and verification computes the true intersection for
    * candidates only), mirroring the Spark tier's exact prefix bound
    * including the epsilon-nudged ceil. Used for the zipf-corpus oracles:
    * the plain `inter` self-join is Σ df² — ≈5×10⁸ grouped pairs at the
    * 50k-doc zipf corpus (sf1.0), which overflows DuckDB's out-of-core
    * hash aggregate past 96 GB; the prefix form's candidate join is ≈N.
    * An oracle states the expected OUTPUT — it owes the plain tier's
    * semantics, not its cost profile.
    */
  def jaccardPrefixTail(threshold: Double): String =
    s"""sz AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
       |dfq AS (SELECT shk, count(*) AS df FROM shk GROUP BY shk),
       |pref AS (
       |  SELECT doc_id, shk FROM (
       |    SELECT s.doc_id, s.shk, z.n_sh,
       |      row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.shk) AS rnk
       |    FROM shk s JOIN dfq d ON s.shk = d.shk JOIN sz z ON s.doc_id = z.doc_id) r
       |  WHERE rnk <= n_sh - ceil($threshold * n_sh - 1e-9) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN pref b ON a.shk = b.shk AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
       |  FROM cand c
       |  JOIN shk x ON c.doc_a = x.doc_id
       |  JOIN shk y ON c.doc_b = y.doc_id AND x.shk = y.shk
       |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of Dedup.minhashLshPairsFrom (md5 tier): CTE chain
    * ending in `p(doc_a, doc_b, jaccard)` — banded md5 MinHash candidates,
    * exact Jaccard >= threshold on candidates only. Same signature layout
    * as Dedup.Md5.component (two 60-bit slices per digest).
    */
  def lshPairCtes(bands: Int, rows: Int, threshold: Double,
                  shingles: String = shingleCte): String =
    s"""${md5BandCtes(bands, rows, shingles)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |$shkCte,
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
       |  FROM cand c
       |    JOIN shk a ON c.doc_a = a.doc_id
       |    JOIN shk b ON c.doc_b = b.doc_id AND a.shk = b.shk
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT doc_a, doc_b,
       |    CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
       |  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= $threshold)""".stripMargin

  /** The md5-tier `sig` and `bands` CTEs over `shingles` (a CTE list
    * ending in `sh(doc_id, shingle)`): Dedup.Md5.component's signature
    * layout (two 60-bit slices per digest) and Dedup.Md5.bandHash.
    */
  private def md5BandCtes(bands: Int, rows: Int, shingles: String): String = {
    val sigCols = (0 until bands * rows).map { i =>
      val seed = i / 2
      val start = if (i % 2 == 0) 1 else 17
      s"min(CAST(CONCAT('0x', substr(md5('$seed:' || shingle), $start, 15)) AS BIGINT)) AS h$i"
    }.mkString(",\n    ")
    val bandSel = (0 until bands).map { b =>
      val hs = (b * rows until (b + 1) * rows)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band, md5($hs) AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$shingles,
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSel)""".stripMargin
  }

  /** Min-label connected-components closure over `p` (recursive CTE),
    * shared by the clusters/keep oracles.
    */
  val ccCtes: String =
    """sym(a, b) AS (SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
      |nodes(node) AS (SELECT DISTINCT a FROM sym),
      |lbl(node, label) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT s.b, l.label FROM lbl l JOIN sym s ON l.node = s.a)""".stripMargin

  /** LSH shape for the actionable dedup path: 12 hashes as 6 bands × 2
    * rows. At the 0.6 keep-threshold the 6×2 banding catches ≈93% of
    * exactly-0.6 pairs and ≈99.9% at 0.8 (1-(1-s²)⁶) — the verify step
    * keeps precision exact. Same signature cost as the 3×4 parity query.
    */
  val KeepBands = 6
  val KeepRows = 2
  val KeepThreshold = 0.6

  /** Shared by the plain and prefix-filtered exact-Jaccard queries —
    * identical semantics by the prefix-filter theorem.
    */
  lazy val ngramJaccardOracle: String =
    s"""WITH $shingleCte, $shkCte, $jaccardTail
       |SELECT doc_a, doc_b,
       |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
       |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Same Jaccard tail over the Zipf corpus's shingles (threshold 0.8 —
    * the planted near-dup pairs sit at ≈0.97). Shared by the plain,
    * prefix-filtered, and auto-routed queries: identical output is the
    * whole point. The oracle uses the PREFIX tail (exact by theorem) and
    * materializes shk — five references would otherwise re-derive the
    * corpus synthesis per reference under DuckDB's CTE inlining.
    */
  lazy val zipfJaccardOracle: String =
    s"""WITH ${graft.sources.ZipfCorpus.shingleCte},
       |${shkCte.replaceFirst("AS \\(", "AS MATERIALIZED (")},
       |${jaccardPrefixTail(0.8)}
       |SELECT doc_a, doc_b,
       |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
       |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Same tail over the MUTATED corpus derivation. */
  lazy val zipfMutJaccardOracle: String =
    s"""WITH ${graft.sources.ZipfCorpus.mutatedShingleCte},
       |${shkCte.replaceFirst("AS \\(", "AS MATERIALIZED (")},
       |${jaccardPrefixTail(0.8)}
       |SELECT doc_a, doc_b,
       |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
       |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Winnow-fingerprint directed containment over the zipf corpus —
    * re-derives the positioned token stream, replays the sliding-min
    * packing, and takes the same directed containment. Shared by the
    * prefix-routed query and its auto-routed twin (identical output is
    * the point of tier routing).
    */
  lazy val zipfWinnowOracle: Option[String] = Some(
    s"""WITH ${graft.sources.ZipfCorpus.shingleCte},
       |wg AS (
       |  SELECT a.doc_id,
       |    row_number() OVER (PARTITION BY a.doc_id ORDER BY a.i) - 1 AS pos,
       |    count(*) OVER (PARTITION BY a.doc_id) AS n_grams,
       |    CAST(CAST(CONCAT('0x', substr(md5(a.tok || ' ' || b.tok || ' ' || c.tok), 1, 15)) AS BIGINT) AS HUGEINT) AS hk
       |  FROM ztok a
       |  JOIN ztok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |  JOIN ztok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |wg2 AS (SELECT doc_id, pos, n_grams,
       |          hk * 1048576 + (1048575 - pos) AS ck FROM wg),
       |wm AS (
       |  SELECT doc_id, pos, n_grams,
       |    min(ck) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
       |  FROM wg2),
       |wfp AS (
       |  SELECT DISTINCT doc_id, CAST(m // 1048576 AS BIGINT) AS fp
       |  FROM wm WHERE pos <= n_grams - 4),
       |wsz AS (SELECT doc_id, count(*) AS n_fp FROM wfp GROUP BY doc_id),
       |winter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |wbd AS (
       |  SELECT i.doc_a AS doc_contained, i.doc_b AS doc_container,
       |    CAST(i.n_common AS DOUBLE) / sa.n_fp AS containment
       |  FROM winter i JOIN wsz sa ON i.doc_a = sa.doc_id
       |  UNION ALL
       |  SELECT i.doc_b, i.doc_a, CAST(i.n_common AS DOUBLE) / sb.n_fp
       |  FROM winter i JOIN wsz sb ON i.doc_b = sb.doc_id)
       |SELECT doc_contained, doc_container, containment
       |FROM wbd WHERE containment >= 0.3
       |ORDER BY doc_contained, doc_container""".stripMargin)

  /** DuckDB twin of Dedup.minhashLshPairsIncremental under the
    * doc_id-mod-10 batch split the registered query uses (docs ≡ 0 mod 10
    * are "today's ingest", the rest the existing corpus). Structure
    * mirrors [[lshPairCtes]] — identical signature and band digests, so
    * the oracle replays the bucketing byte-for-byte — with the self-join
    * candidate step replaced by the new×old cross-set join. Ends in
    * `p(new_doc, old_doc, jaccard)`.
    */
  def incrementalPairCtes(bands: Int, rows: Int, threshold: Double): String =
    s"""${md5BandCtes(bands, rows, shingleCte)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS old_doc
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
       |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
       |$shkCte,
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
       |inter AS (
       |  SELECT c.new_doc, c.old_doc, count(*) AS n_common
       |  FROM cand c
       |    JOIN shk a ON c.new_doc = a.doc_id
       |    JOIN shk b ON c.old_doc = b.doc_id AND a.shk = b.shk
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT new_doc, old_doc,
       |    CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
       |  FROM inter JOIN sz sa ON new_doc = sa.doc_id JOIN sz sb ON old_doc = sb.doc_id
       |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= $threshold)""".stripMargin

  /** The actionable LSH-verified pair graph (shared with text_curate). */
  def lshKeepPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairsFromSigKeys(persistedSignatures(s, d), persistedShingleKeys(s, d),
      KeepBands, KeepRows, KeepThreshold)

  /** DuckDB twin of Dedup.minhashLshPairsFromSigKeys with Dedup.Xx — the
    * xxhash64 tier under the full hash gate. Structure mirrors [[lshPairCtes]]
    * with every digest swapped for XxhashSql's staged XXH64 chains:
    * signatures = per-(doc, i) min of xxhash64(i, shingle) (the chained
    * int seed is the driver-side constant hashInt(i, 42)); band buckets
    * = hashLong-chained signature columns from seed 42; verify keys =
    * xxhash64(shingle). One shared byte-extraction pass serves all
    * 13 seeds (12 signature components + the key tier) via a seed
    * cross-join before the hash chain.
    */
  def fastLshPairSql(bands: Int, rows: Int, threshold: Double): String = {
    val n = bands * rows
    val seedVals = ((0 until n).map(i => s"($i, ${XxhashSql.hashInt(i, 42L)})") :+
      s"($n, 42)").mkString(", ")
    val sigCols = (0 until n)
      .map(i => s"min(xh) FILTER (WHERE i = $i) AS h$i").mkString(",\n    ")
    val bandSel = (0 until bands).map { b =>
      val cs = (0 until rows).map(r => s"h${b * rows + r} AS c$r").mkString(", ")
      s"SELECT doc_id, $b AS band, $cs FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $shingleCte,
       |shx AS (SELECT doc_id, shingle, hex(encode(shingle)) AS hx, octet_length(encode(shingle)) AS ln FROM sh),
       |seeds(i, seed) AS (VALUES $seedVals),
       |se AS (SELECT s.doc_id, s.hx, s.ln, t.i,
       |  CAST((CAST(t.seed AS HUGEINT) + 18446744073709551616) % 18446744073709551616 AS UBIGINT) AS useed
       |  FROM shx s, seeds t),
       |${XxhashSql.strChainCtes("x", "se", Seq("doc_id", "i"))},
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM xb9 WHERE i < $n GROUP BY doc_id),
       |shk AS (SELECT doc_id, xh AS shk FROM xb9 WHERE i = $n),
       |bsrc AS (
       |  $bandSel),
       |${XxhashSql.longChainCtes("z", "bsrc", Seq("doc_id", "band"), (0 until rows).map(r => s"c$r"), "bh")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM zout a JOIN zout b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
       |  FROM cand c
       |    JOIN shk a ON c.doc_a = a.doc_id
       |    JOIN shk b ON c.doc_b = b.doc_id AND a.shk = b.shk
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
       |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  def all: Seq[GraftQuery] = Seq(

    GraftQuery("dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d)).orderBy("keep_id"),
      Some(
        """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),

    GraftQuery("dedup_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardPairsFromKeys(persistedShingleKeys(s, d), 0.6)
        .orderBy("doc_a", "doc_b"),
      Some(ngramJaccardOracle)),

    // AUTO-ROUTED exact Jaccard on the documents fixture: the bucket
    // probe reads a sub-0.01 head candidate share and keeps
    // the PLAIN tier (prefix's extra df/rank stages cost ~4× on this
    // low-collision corpus — the measured crossover in the operator
    // doc). The zipf twin routes the other way; both share their plain
    // form's oracle.
    GraftQuery("dedup_ngram_jaccard_auto",
      (s, d) => Dedup.ngramJaccardPairsAutoFromKeys(persistedShingleKeys(s, d), 0.6)
        .orderBy("doc_a", "doc_b"),
      Some(ngramJaccardOracle)),

    // Exact Jaccard with PREFIX FILTERING (AllPairs/PPJoin): identical
    // output from a candidate join over each doc's rarest shingles only —
    // the exact-tier shape for a real Zipf-vocabulary corpus, where it
    // removes the stopword-shingle df² blowup. On THIS synthetic corpus
    // (31-word vocab, every shingle common) prefixes aren't selective and
    // the extra stages cost ~4× at sf0.1, so it is correctness-gated
    // (same oracle — semantics identical) but bench-excluded; see
    // Dedup.ngramJaccardPairsPrefixFromKeys's measured caveat.
    GraftQuery("dedup_ngram_jaccard_prefix",
      (s, d) => Dedup.ngramJaccardPairsPrefixFromKeys(persistedShingleKeys(s, d), 0.6)
        .orderBy("doc_a", "doc_b"),
      Some(ngramJaccardOracle),
      bench = false),

    // The SAME pair of exact-Jaccard formulations over the Zipf-vocabulary
    // corpus — both benched, so the driver's own numbers carry the
    // crossover the prefix tier exists for: on a realistic df
    // distribution the plain inverted-index join pays Σ df² over hot
    // stopword shingles while the prefix join touches only each doc's
    // rarest shingles (tail words, df ≈ 1). Hash-gated end to end: the
    // oracle re-derives the synthetic corpus itself (md5-slice token
    // draws), its shingles, and the same 0.8-threshold pairs.
    // Asymmetric CONTAINMENT near-dup (C(A→B) = |A∩B|/|A|): catches a doc
    // embedded in a larger one, which symmetric Jaccard structurally
    // misses when sizes differ. Directed output, threshold 0.9; same
    // persisted shingle-key intersection as the Jaccard tier.
    GraftQuery("dedup_containment",
      (s, d) => Dedup.containmentPairsFromKeys(persistedShingleKeys(s, d), 0.9)
        .orderBy("doc_contained", "doc_container"),
      Some(
        s"""WITH $shingleCte, $shkCte, $jaccardTail,
           |dir AS (
           |  SELECT doc_a AS doc_contained, doc_b AS doc_container,
           |         CAST(n_common AS DOUBLE) / sa.n_sh AS containment
           |  FROM inter JOIN sz sa ON doc_a = sa.doc_id
           |  UNION ALL
           |  SELECT doc_b, doc_a, CAST(n_common AS DOUBLE) / sb.n_sh
           |  FROM inter JOIN sz sb ON doc_b = sb.doc_id)
           |SELECT doc_contained, doc_container, containment FROM dir
           |WHERE containment >= 0.9 ORDER BY doc_contained, doc_container""".stripMargin)),

    // The prefix-filtered containment twin — identical output from an
    // asymmetric candidate join (contained-side prefix × container-side
    // full list; see the operator doc for why only one side has a
    // prefix). Bench-excluded on this 31-word corpus for the same reason
    // as the Jaccard prefix; the zipf fixtures carry the selectivity
    // measurement (DedupSpec).
    GraftQuery("dedup_containment_prefix",
      (s, d) => Dedup.containmentPairsPrefixFromKeys(persistedShingleKeys(s, d), 0.9)
        .orderBy("doc_contained", "doc_container"),
      Some(
        s"""WITH $shingleCte, $shkCte, $jaccardTail,
           |dir AS (
           |  SELECT doc_a AS doc_contained, doc_b AS doc_container,
           |         CAST(n_common AS DOUBLE) / sa.n_sh AS containment
           |  FROM inter JOIN sz sa ON doc_a = sa.doc_id
           |  UNION ALL
           |  SELECT doc_b, doc_a, CAST(n_common AS DOUBLE) / sb.n_sh
           |  FROM inter JOIN sz sb ON doc_b = sb.doc_id)
           |SELECT doc_contained, doc_container, containment FROM dir
           |WHERE containment >= 0.9 ORDER BY doc_contained, doc_container""".stripMargin),
      bench = false),

    GraftQuery("dedup_zipf_jaccard",
      (s, d) => Dedup.ngramJaccardPairsFromKeys(persistedZipfShingleKeys(s, d), 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(zipfJaccardOracle)),

    GraftQuery("dedup_zipf_jaccard_prefix",
      (s, d) => Dedup.ngramJaccardPairsPrefixFromKeys(persistedZipfShingleKeys(s, d), 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(zipfJaccardOracle)),

    // Winnowing copy detection on the COLLISION-HEAVY corpus — the regime
    // the prefix tier exists for (one head fingerprint reaches a
    // 13 000-doc bucket at 50k zipf docs; 50.1 s plain vs 3.0 s prefix,
    // BASELINE.md). Hash-gated end to end: the oracle re-derives the
    // positioned token stream (ztok), replays the sliding-min packing,
    // and takes the same directed containment.
    GraftQuery("dedup_zipf_winnow",
      (s, d) => {
        val fp = Persisted(s, d, "zipfwinnow", "documents.parquet", "") {
          graft.operators.TextAnalysis.winnowing(persistedZipfCorpus(s, d))
            .withColumnRenamed("fp", "shk")
        }
        Dedup.containmentPairsPrefixFromKeys(fp, 0.3)
          .orderBy("doc_contained", "doc_container")
      },
      zipfWinnowOracle),

    // AUTO-ROUTED winnowing copy detection on the collision-heavy corpus
    // (round 13 — SURVEY §2.9's "a human picks the tier" limitation
    // closed): Dedup.bucketProfile probes the persisted fingerprint
    // table (two bounded aggregates, ~0.6 s warm at sf0.1) and routes
    // plain vs prefix on the head-candidate share. HERE the probe reads the
    // zipf signature (max bucket 1300 of 5000 docs = 0.26 ≥ 0.05) and
    // picks the PREFIX tier — the measured 17× cliff avoided without a
    // human in the loop; the decision is spec-pinned in DedupSpec and
    // the output shares dedup_zipf_winnow's oracle (tiers are
    // output-identical by construction).
    GraftQuery("dedup_zipf_winnow_auto",
      (s, d) => {
        val fp = Persisted(s, d, "zipfwinnow", "documents.parquet", "") {
          graft.operators.TextAnalysis.winnowing(persistedZipfCorpus(s, d))
            .withColumnRenamed("fp", "shk")
        }
        Dedup.containmentPairsAutoFromKeys(fp, 0.3)
          .orderBy("doc_contained", "doc_container")
      },
      zipfWinnowOracle),

    // AUTO-ROUTED exact Jaccard on the zipf corpus — the same probe
    // serving the AllPairs/PPJoin family: head candidate share 0.16 → prefix
    // tier (the df² stopword blowup regime). Shares the zipf Jaccard
    // oracle; decision spec-pinned alongside the winnow twin.
    GraftQuery("dedup_zipf_jaccard_auto",
      (s, d) => Dedup.ngramJaccardPairsAutoFromKeys(persistedZipfShingleKeys(s, d), 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(zipfJaccardOracle)),

    // Winnowing on the MUTATED-copy corpus — the property that makes
    // winnowing the copy-detection standard: a ~2 % token mutation kills
    // only the grams spanning it, and every intact ≥ 6-token run still
    // guarantees a shared fingerprint, so mutated copies stay above the
    // containment bar while the boilerplate-header overlap stays below
    // it. Same oracle chain over the mutated reconstruction.
    GraftQuery("dedup_zipf_mutated_winnow",
      (s, d) => {
        val fp = Persisted(s, d, "zipfmwinnow", "documents.parquet", "") {
          graft.operators.TextAnalysis.winnowing(persistedZipfMutCorpus(s, d))
            .withColumnRenamed("fp", "shk")
        }
        Dedup.containmentPairsPrefixFromKeys(fp, 0.3)
          .orderBy("doc_contained", "doc_container")
      },
      Some(
        s"""WITH ${graft.sources.ZipfCorpus.mutatedShingleCte},
           |wg AS (
           |  SELECT a.doc_id,
           |    row_number() OVER (PARTITION BY a.doc_id ORDER BY a.i) - 1 AS pos,
           |    count(*) OVER (PARTITION BY a.doc_id) AS n_grams,
           |    CAST(CAST(CONCAT('0x', substr(md5(a.tok || ' ' || b.tok || ' ' || c.tok), 1, 15)) AS BIGINT) AS HUGEINT) AS hk
           |  FROM ztok a
           |  JOIN ztok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           |  JOIN ztok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
           |wg2 AS (SELECT doc_id, pos, n_grams,
           |          hk * 1048576 + (1048575 - pos) AS ck FROM wg),
           |wm AS (
           |  SELECT doc_id, pos, n_grams,
           |    min(ck) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
           |  FROM wg2),
           |wfp AS (
           |  SELECT DISTINCT doc_id, CAST(m // 1048576 AS BIGINT) AS fp
           |  FROM wm WHERE pos <= n_grams - 4),
           |wsz AS (SELECT doc_id, count(*) AS n_fp FROM wfp GROUP BY doc_id),
           |winter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           |  FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |wbd AS (
           |  SELECT i.doc_a AS doc_contained, i.doc_b AS doc_container,
           |    CAST(i.n_common AS DOUBLE) / sa.n_fp AS containment
           |  FROM winter i JOIN wsz sa ON i.doc_a = sa.doc_id
           |  UNION ALL
           |  SELECT i.doc_b, i.doc_a, CAST(i.n_common AS DOUBLE) / sb.n_fp
           |  FROM winter i JOIN wsz sb ON i.doc_b = sb.doc_id)
           |SELECT doc_contained, doc_container, containment
           |FROM wbd WHERE containment >= 0.3
           |ORDER BY doc_contained, doc_container""".stripMargin)),

    // The LSH production path on the realistic corpus, fully hash-gated:
    // 6×2-banded md5 MinHash candidates + exact verify at 0.8 — at the
    // planted pairs' s≈0.97, band collision probability is 1−(1−s²)⁶ ≈
    // 0.999998, and the oracle replays the identical signatures, banding,
    // and verify in SQL over the re-derived corpus. With the zipf
    // Jaccard twins this pins all three exact/approximate tiers on the
    // same realistic fixture.
    GraftQuery("dedup_zipf_minhash_lsh",
      (s, d) => Dedup.minhashLshPairsFromSigKeys(persistedZipfSignatures(s, d),
          persistedZipfShingleKeys(s, d), 6, 2, 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${lshPairCtes(6, 2, 0.8, graft.sources.ZipfCorpus.shingleCte)}
           |SELECT doc_a, doc_b, jaccard FROM p
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // The mutated-copy fixture: near-dups with EDITS (2 % token mutation
    // on copies), so pair similarities form a graded distribution
    // straddling the 0.8 threshold — zero-mutation copies at ≈0.95+,
    // one-mutation at ≈0.80–0.85 (either side of the line by length),
    // two-plus below. Plain vs prefix exactness and the LSH tier are all
    // hash-gated on BORDERLINE pairs now, not planted certainties —
    // closing the "planted exact-J pairs" objection to the zipf fixture.
    GraftQuery("dedup_zipf_mutated",
      (s, d) => Dedup.ngramJaccardPairsFromKeys(persistedZipfMutShingleKeys(s, d), 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(zipfMutJaccardOracle)),

    GraftQuery("dedup_zipf_mutated_prefix",
      (s, d) => Dedup.ngramJaccardPairsPrefixFromKeys(persistedZipfMutShingleKeys(s, d), 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(zipfMutJaccardOracle)),

    GraftQuery("dedup_zipf_mutated_lsh",
      (s, d) => Dedup.minhashLshPairsFromSigKeys(persistedZipfMutSignatures(s, d),
          persistedZipfMutShingleKeys(s, d), 6, 2, 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${lshPairCtes(6, 2, 0.8, graft.sources.ZipfCorpus.mutatedShingleCte)}
           |SELECT doc_a, doc_b, jaccard FROM p
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // Contrastive training-pair mining (Selection.contrastivePairs) over
    // the graded-Jaccard mutated-zipf fixture: the same 6×2-banded LSH
    // candidate machinery run open (threshold 0), positives at ≥ 0.8 and
    // the ≤ 5 hardest same-bucket negatives per anchor in [0.05, 0.5] —
    // the embedding-model data miner, all bounded windows.
    GraftQuery("text_contrastive_pairs",
      (s, d) => graft.operators.Selection.contrastivePairs(
        Dedup.minhashLshPairsFromSigKeys(persistedZipfMutSignatures(s, d),
          persistedZipfMutShingleKeys(s, d), 6, 2, 0.0))
        .orderBy("doc_a", "label", "doc_b"),
      Some(
        s"""WITH ${lshPairCtes(6, 2, 0.0, graft.sources.ZipfCorpus.mutatedShingleCte)},
           |lab AS (
           |  SELECT doc_a, doc_b, jaccard,
           |    CASE WHEN jaccard >= 0.8 THEN 'pos'
           |         WHEN jaccard >= 0.05 AND jaccard <= 0.5 THEN 'neg' END AS label
           |  FROM p),
           |r AS (
           |  SELECT doc_a, doc_b, jaccard, label,
           |    row_number() OVER (PARTITION BY doc_a, label
           |                       ORDER BY jaccard DESC, doc_b) AS rnk
           |  FROM lab WHERE label IS NOT NULL)
           |SELECT doc_a, doc_b, jaccard, label FROM r
           |WHERE label = 'pos' OR rnk <= 5
           |ORDER BY doc_a, label, doc_b""".stripMargin)),

    GraftQuery("dedup_minhash_lsh",
      (s, d) => Dedup.minhashLshPairsFromSigKeys(persistedSignatures(s, d),
          persistedShingleKeys(s, d), 3, 4, 0.5)
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${lshPairCtes(3, 4, 0.5)}
           |SELECT doc_a, doc_b, jaccard FROM p
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // Estimator-quality card for the MinHash sketch — the dedup analogue
    // of ann_recall: per LSH candidate, the 12-component signature
    // estimate next to the exact shingle Jaccard and the signed error.
    // The banding recall curves (1−(1−s^r)^b) assume an unbiased
    // estimator with √(s(1−s)/k) noise; this query MEASURES both
    // quantities pairwise under the hash gate.
    GraftQuery("dedup_minhash_est",
      (s, d) => Dedup.minhashEstimates(persistedSignatures(s, d),
          persistedShingleKeys(s, d), 3, 4)
        .orderBy("doc_a", "doc_b"),
      Some {
        val terms = (0 until 12)
          .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH ${lshPairCtes(3, 4, 0.0)},
           |est AS (
           |  SELECT c.doc_a, c.doc_b, CAST($terms AS DOUBLE) / 12.0 AS est_j
           |  FROM cand c JOIN sig a ON c.doc_a = a.doc_id
           |    JOIN sig b ON c.doc_b = b.doc_id)
           |SELECT e.doc_a, e.doc_b, e.est_j,
           |  COALESCE(p.jaccard, 0.0) AS exact_j,
           |  e.est_j - COALESCE(p.jaccard, 0.0) AS err
           |FROM est e LEFT JOIN p USING (doc_a, doc_b)
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // NATURAL-LANGUAGE fixture tiers (round 13 — SURVEY §2.9's "all
    // measurements ride the synthetic zipf corpus" caveat narrowed): the
    // committed fixtures/natural_docs.parquet corpus (40 original
    // English docs with planted mirrors, a light-mutation copy at
    // J=0.829, boilerplate/quote variants at J≈0.68, and stopword-only
    // unrelated pairs; see graft.sources.NaturalCorpus) validates the
    // 0.8 Jaccard bar linguistically: mirrors + the light mutation pass,
    // boilerplate wrapping does NOT (that is containment's job —
    // dedup_natural_winnow). Both engines read identical committed
    // bytes; the oracle shadows `documents` with the fixture CTE and
    // reuses the standard chains verbatim. SF-independent by design
    // (like the zipf tiers at fixed doc count).
    GraftQuery("dedup_natural_jaccard",
      (s, d) => Dedup.ngramJaccardPairsFrom(
          Dedup.shingles(graft.sources.NaturalCorpus.docs(s)), 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${graft.sources.NaturalCorpus.docsCte}, $shingleCte, $shkCte, $jaccardTail
           |SELECT doc_a, doc_b,
           |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
           |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
           |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // The banded-LSH production path on natural text (6 bands × 2 rows —
    // ≈0.999 candidate recall at J=0.83, certain at J=1), verify-exact
    // on candidates. In-plan signatures: the fixture is 40 docs, so no
    // persistence tier is warranted.
    GraftQuery("dedup_natural_lsh",
      (s, d) => Dedup.minhashLshPairsFrom(
          Dedup.shingles(graft.sources.NaturalCorpus.docs(s)),
          KeepBands, KeepRows, 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${lshPairCtes(KeepBands, KeepRows, 0.8,
               s"${graft.sources.NaturalCorpus.docsCte},\n${shingleCte}")}
           |SELECT doc_a, doc_b, jaccard FROM p
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // CORPUS-SCALE natural tiers (round 15 — SURVEY §2.9's "the fixture
    // is small" caveat closed): the 2,500-doc recombined-prose corpus
    // (fixtures/natural_corpus.parquet, committed; see
    // graft.sources.NaturalCorpus.corpus) with planted
    // mirror/boilerplate/light/heavy/quote classes under ~19k organic
    // fragment-overlap pairs. The 0.8 bar at scale: exactly the 200
    // mirrors + 150 light mutations, zero accidental positives
    // (NaturalCorpusSpec pins the planted-formula equality; measured
    // selectivity table in BASELINE.md).
    GraftQuery("dedup_natural2_jaccard",
      (s, d) => Dedup.ngramJaccardPairsAutoFromKeys(
          persistedNaturalShingleKeys(s), 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${graft.sources.NaturalCorpus.corpusCte}, $shingleCte, $shkCte, $jaccardTail
           |SELECT doc_a, doc_b,
           |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
           |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
           |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8
           |ORDER BY doc_a, doc_b""".stripMargin),
      // the exact tier is the CONTRAST: at this corpus's organic-overlap
      // density it pays the full 26.5M-candidate inverted-index join
      // (~13 s) that banded LSH exists to avoid — correctness-gated,
      // bench-excluded (the exact-verify-twin precedent)
      bench = false),

    // Banded LSH at corpus scale: the production path's candidate
    // economics on real text — organic J≈0.1-0.4 fragment overlaps
    // produce band collisions the verify stage must absorb (the measured
    // candidate count is in BASELINE.md), while the surviving >=0.8 set
    // is identical to the exact tier.
    GraftQuery("dedup_natural2_lsh",
      (s, d) => Dedup.minhashLshPairsFromSigKeys(
          persistedNaturalSignatures(s), persistedNaturalShingleKeys(s),
          KeepBands, KeepRows, 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${lshPairCtes(KeepBands, KeepRows, 0.8,
               s"${graft.sources.NaturalCorpus.corpusCte},\n${shingleCte}")}
           |SELECT doc_a, doc_b, jaccard FROM p
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // xxhash64 tier: the same banded-LSH shape with the production hash.
    // HASH-GATED since round 11: XxhashSql replays Spark's xxhash64 in
    // DuckDB (mod-2⁶⁴ arithmetic over HUGEINT, staged CTEs, list_reduce
    // folds), so the oracle re-derives the identical signatures, band
    // buckets, and verify keys — the fast tier's pairs now hash-match
    // instead of riding a rows-only check. DedupSpec additionally pins
    // its agreement with the md5 tier on the fixture.
    GraftQuery("dedup_minhash_fast",
      (s, d) => Dedup.minhashLshPairsFromSigKeys(persistedSignaturesFast(s, d),
          persistedShingleKeysFast(s, d), 3, 4, 0.5, Dedup.Xx)
        .orderBy("doc_a", "doc_b"),
      Some(fastLshPairSql(3, 4, 0.5))),

    // Near-dup clustering: connected components over the LSH-verified
    // >=0.6-Jaccard pair graph; every member maps to its component's min
    // doc_id. Oracle: the same LSH candidate CTE + a recursive min-label
    // closure — both engines see the identical pair set.
    GraftQuery("dedup_clusters",
      (s, d) => Dedup.clusters(lshKeepPairs(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH RECURSIVE ${lshPairCtes(KeepBands, KeepRows, KeepThreshold)},
           |$ccCtes
           |SELECT node AS doc_id, min(label) AS keep_id
           |FROM lbl GROUP BY node ORDER BY doc_id""".stripMargin)),

    // The actual dedup output: corpus minus every non-representative
    // cluster member (left-anti join on the clustering) — corpus in,
    // cleaned corpus out. Rides the LSH pair generator: no stage of this
    // plan is quadratic in corpus size.
    GraftQuery("dedup_keep",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val drop = Dedup.clusters(lshKeepPairs(s, d))
          .filter(col("doc_id") =!= col("keep_id"))
        docs.join(drop, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some(
        s"""WITH RECURSIVE ${lshPairCtes(KeepBands, KeepRows, KeepThreshold)},
           |$ccCtes,
           |drop AS (
           |  SELECT node AS doc_id FROM lbl GROUP BY node
           |  HAVING node <> min(label))
           |SELECT doc_id, lang, source FROM documents
           |WHERE doc_id NOT IN (SELECT doc_id FROM drop)
           |ORDER BY doc_id""".stripMargin)),

    // Quality-aware canonical selection: same LSH clusters as dedup_keep,
    // but each cluster keeps its HIGHEST-quality member (stab(6)'d
    // composite score, ties to the lower doc_id) instead of the minimum
    // id — what a production pipeline actually does when near-dups
    // differ (boilerplate-stripped mirror vs raw page: keep the clean
    // one). The quality join touches only clustered docs; the final
    // anti-join is corpus-linear; the per-cluster window partitions by
    // cluster label (bounded groups — dup clusters, never the corpus).
    GraftQuery("dedup_keep_best",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val cl = Dedup.clusters(lshKeepPairs(s, d))
        // Round-19 (guide §2.3 filter before the heavy pass): quality is
        // only ever consulted for CLUSTERED docs (the window ranks within
        // clusters), so the corpus tokenize+aggregate is pruned to cluster
        // members by a broadcast semi-join on the checkpointed labels —
        // qualityScore is a per-doc aggregate, so the surviving q6 values
        // are identical; the members inner join below already discarded
        // every other doc's score.
        val q6 = graft.operators.TextAnalysis.qualityScore(
            docs.join(broadcast(cl.select("doc_id")), Seq("doc_id"), "left_semi"))
          .select(col("doc_id"), graft.functions.Stable.stab(col("quality"), 6).as("q6"))
        val members = cl.join(q6, "doc_id")
        val drop = members.withColumn("rn", row_number().over(
            Window.partitionBy("keep_id").orderBy(desc("q6"), asc("doc_id"))))
          .filter(col("rn") > 1)
          .select("doc_id")
        docs.join(drop, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some(
        s"""WITH RECURSIVE ${lshPairCtes(KeepBands, KeepRows, KeepThreshold)},
           |$ccCtes,
           |${SearchQueries.tokCte},
           |f AS (
           |  SELECT doc_id, count(*) AS n_tokens,
           |    CAST(sum(CASE WHEN regexp_matches(word, '[0-9]') THEN 1 ELSE 0 END) AS DOUBLE)
           |      / count(*) AS digit_ratio,
           |    CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS ttr
           |  FROM tok GROUP BY doc_id),
           |qs AS (
           |  SELECT doc_id,
           |    floor(least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * ttr
           |      * (1.0 - digit_ratio) * 1000000.0 + 0.5) / 1000000.0 AS q6
           |  FROM f),
           |cla AS (SELECT node AS doc_id, min(label) AS cl FROM lbl GROUP BY node),
           |m AS (SELECT cla.doc_id, cla.cl, qs.q6 FROM cla JOIN qs USING (doc_id)),
           |r AS (
           |  SELECT doc_id,
           |    row_number() OVER (PARTITION BY cl ORDER BY q6 DESC, doc_id) AS rn
           |  FROM m),
           |drop AS (SELECT doc_id FROM r WHERE rn > 1)
           |SELECT doc_id, lang, source FROM documents
           |WHERE doc_id NOT IN (SELECT doc_id FROM drop)
           |ORDER BY doc_id""".stripMargin)),

    // Incremental ingest dedup: today's batch (doc_id ≡ 0 mod 10) probed
    // against the existing corpus's persisted signature/shingle-key
    // artifacts — the per-snapshot operation of a production pipeline
    // (hash only the new docs, scan the old band index once, repeat no
    // old×old work). Same 12-column signatures and 6×2 keep-banding as
    // dedup_clusters/dedup_keep; see Dedup.minhashLshPairsIncremental.
    GraftQuery("dedup_incremental",
      (s, d) => {
        val sig = persistedSignatures(s, d)
        val shk = persistedShingleKeys(s, d)
        Dedup.minhashLshPairsIncremental(
            sig.filter(col("doc_id") % 10 === 0), sig.filter(col("doc_id") % 10 =!= 0),
            shk.filter(col("doc_id") % 10 === 0), shk.filter(col("doc_id") % 10 =!= 0),
            KeepBands, KeepRows, KeepThreshold)
          .orderBy("new_doc", "old_doc")
      },
      Some(
        s"""WITH ${incrementalPairCtes(KeepBands, KeepRows, KeepThreshold)}
           |SELECT new_doc, old_doc, jaccard FROM p
           |ORDER BY new_doc, old_doc""".stripMargin)),

    // The actionable incremental output: the accepted slice of the batch
    // (new docs with no >=0.6-Jaccard match in the corpus) — what actually
    // gets appended to the training set this snapshot.
    GraftQuery("dedup_incremental_keep",
      (s, d) => {
        val sig = persistedSignatures(s, d)
        val shk = persistedShingleKeys(s, d)
        val pairs = Dedup.minhashLshPairsIncremental(
          sig.filter(col("doc_id") % 10 === 0), sig.filter(col("doc_id") % 10 =!= 0),
          shk.filter(col("doc_id") % 10 === 0), shk.filter(col("doc_id") % 10 =!= 0),
          KeepBands, KeepRows, KeepThreshold)
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .join(pairs.select(col("new_doc").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some(
        s"""WITH ${incrementalPairCtes(KeepBands, KeepRows, KeepThreshold)}
           |SELECT doc_id, lang, source FROM documents
           |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT new_doc FROM p)
           |ORDER BY doc_id""".stripMargin)),

    // Exact-verify twin of dedup_clusters: the quadratic all-pairs pair
    // graph (no LSH approximation) — the ground truth the LSH path is
    // checked against. Correctness-gated at small SF; excluded from the
    // bench (bench = false) because its candidate stage is O(n²) by
    // construction.
    GraftQuery("dedup_clusters_exactverify",
      (s, d) => Dedup.clusters(
          Dedup.ngramJaccardPairsFromKeys(persistedShingleKeys(s, d), 0.6))
        .orderBy("doc_id"),
      Some(
        s"""WITH RECURSIVE $shingleCte, $shkCte, $jaccardTail,
           |p AS (
           |  SELECT doc_a, doc_b FROM inter
           |    JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
           |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.6),
           |$ccCtes
           |SELECT node AS doc_id, min(label) AS keep_id
           |FROM lbl GROUP BY node ORDER BY doc_id""".stripMargin),
      bench = false),

    GraftQuery("dedup_simhash",
      (s, d) => persistedSimhash(s, d).orderBy("doc_id"),
      Some(
        """WITH tf AS (
          |  SELECT doc_id, w AS word, count(*) AS tf
          |  FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) t(w)
          |  WHERE length(w) > 0 AND NOT regexp_matches(w, '^[0-9]+$')
          |  GROUP BY 1, 2),
          |votes AS (
          |  SELECT doc_id, j,
          |    sum(CASE WHEN substr(md5(word), CAST(j + 1 AS INT), 1)
          |               IN ('8','9','a','b','c','d','e','f')
          |             THEN tf ELSE -tf END) AS v
          |  FROM tf, unnest(range(0, 16)) u(j)
          |  GROUP BY 1, 2)
          |SELECT doc_id,
          |  CAST(sum(CASE WHEN v > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // SimHash near-dup pairs: hamming distance <= 2 on the 16-bit hash.
    // Spark side uses pigeonhole chunk banding (equi-join candidates) over
    // the persisted simhash parquet (the in-plan formulation re-derived
    // the whole simhash subtree on both self-join sides); the oracle keeps
    // the readable all-pairs formulation — identical rows.
    // bench = false: at 16 bits the chunk buckets have 64/32/32 values, so
    // this tier's 15k pairs are mostly chance collisions — it survives as
    // an oracle-parity demo only; dedup_simhash_wide_pairs (60-bit) is the
    // benched production path.
    GraftQuery("dedup_simhash_pairs",
      (s, d) => Dedup.hammingPairs(persistedSimhash(s, d), "doc_id", "simhash", 16, 2)
        .orderBy("doc_a", "doc_b"),
      Some(
        """WITH tf AS (
          |  SELECT doc_id, w AS word, count(*) AS tf
          |  FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) t(w)
          |  WHERE length(w) > 0 AND NOT regexp_matches(w, '^[0-9]+$')
          |  GROUP BY 1, 2),
          |votes AS (
          |  SELECT doc_id, j,
          |    sum(CASE WHEN substr(md5(word), CAST(j + 1 AS INT), 1)
          |               IN ('8','9','a','b','c','d','e','f')
          |             THEN tf ELSE -tf END) AS v
          |  FROM tf, unnest(range(0, 16)) u(j)
          |  GROUP BY 1, 2),
          |simh AS (
          |  SELECT doc_id,
          |    CAST(sum(CASE WHEN v > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          |  FROM votes GROUP BY doc_id)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          |FROM simh a JOIN simh b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
          |ORDER BY doc_a, doc_b""".stripMargin),
      bench = false),

    // 60-bit SimHash (production width): at 16 bits the pigeonhole chunk
    // buckets have 64/32/32 values — corpus-sized at scale; 20-bit chunks
    // give ~10^6 buckets so candidate joins stay selective. Oracled via
    // the identical md5-nibble bit derivation in SQL.
    GraftQuery("dedup_simhash_wide",
      (s, d) => persistedSimhash60(s, d).orderBy("doc_id"),
      Some(simhash60Cte +
        "\nSELECT doc_id, simhash FROM simh ORDER BY doc_id")),

    GraftQuery("dedup_simhash_wide_pairs",
      (s, d) => Dedup.hammingPairs(persistedSimhash60(s, d), "doc_id", "simhash", 60, 2)
        .orderBy("doc_a", "doc_b"),
      Some(simhash60Cte +
        """
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          |FROM simh a JOIN simh b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Content-novelty gate on a re-crawl snapshot: the batch is 1/7 of
    // the corpus RE-FETCHED byte-identical under its own id, 25 MIRRORS
    // (existing content under brand-new ids — novel-by-id, duplicate-by-
    // content, the case an id-level check structurally misses), and 50
    // genuinely new documents. Dedup.bloomNovelDocs must keep exactly
    // the new 50: the corpus bloom passes the definite-novel slice with
    // no join at all and the exact md5 anti-join clears the maybes. The
    // oracle reconstructs both corpus and batch texts from the same
    // md5-slice derivation (ZipfCorpus.textCtes) and takes the plain
    // NOT IN — bloom false positives never reach the output, so no
    // bloom arithmetic appears in SQL.
    GraftQuery("dedup_bloom_novel",
      (s, d) => {
        val corpus = persistedZipfCorpus(s, d)
        val mx = corpus.agg(max("doc_id")).head().getLong(0) // 1-row driver scalar
        val refetch = corpus.select(col("doc_id"), col("doc_id").as("sid"))
          .filter(col("doc_id") % 7 === 0)
        val mirror = s.range(0, 25).select(
          (lit(mx) + 1000 + col("id")).as("doc_id"),
          ((col("id") * 37) % (mx + 1)).as("sid"))
        val fresh = s.range(0, 50).select(
          (lit(mx) + 1 + col("id")).as("doc_id"),
          (lit(mx) + 1 + col("id")).as("sid"))
        val batch = graft.sources.ZipfCorpus.synthFor(
          refetch.unionByName(mirror).unionByName(fresh))
        Dedup.bloomNovelDocs(batch, corpus).orderBy("doc_id")
      },
      Some(
        s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
           |bids AS (
           |  SELECT doc_id AS b, doc_id AS s FROM documents WHERE doc_id % 7 = 0
           |  UNION ALL SELECT m + 1000 + j, (j * 37) % (m + 1) FROM mx, unnest(range(0, 25)) t(j)
           |  UNION ALL SELECT m + 1 + i, m + 1 + i FROM mx, unnest(range(0, 50)) t(i)),
           |cids AS (SELECT doc_id AS b, doc_id AS s FROM documents),
           |${graft.sources.ZipfCorpus.textCtes("bids", "b_")},
           |${graft.sources.ZipfCorpus.textCtes("cids", "c_")}
           |SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
           |FROM b_txt
           |WHERE md5(text) NOT IN (SELECT md5(text) FROM c_txt)
           |ORDER BY doc_id""".stripMargin))
  )

  /** DuckDB twin of Dedup.simhash60: bit j = bit (3 − j%4) of md5 hex
    * nibble j/4, tf-weighted majority vote, 60-bit packing.
    */
  val simhash60Cte: String =
    """WITH tf AS (
      |  SELECT doc_id, w AS word, count(*) AS tf
      |  FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) t(w)
      |  WHERE length(w) > 0 AND NOT regexp_matches(w, '^[0-9]+$')
      |  GROUP BY 1, 2),
      |votes AS (
      |  SELECT doc_id, j,
      |    sum(CASE WHEN ((CAST(strpos('0123456789abcdef',
      |                     substr(md5(word), CAST(j // 4 + 1 AS INT), 1)) - 1 AS INT)
      |                   >> CAST(3 - j % 4 AS INT)) & 1) = 1
      |             THEN tf ELSE -tf END) AS v
      |  FROM tf, unnest(range(0, 60)) u(j)
      |  GROUP BY 1, 2),
      |simh AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id)""".stripMargin
}
