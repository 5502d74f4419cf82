package graft.operators

import graft.functions.{Stable, TextOps}
import graft.sources.Tables
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession, graftglue}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** The reference's full capability surface — a batch TF-IDF search engine
  * (SURVEY.md §2, operators V1..Q8) — rebuilt as lazy Catalyst plans over the
  * `documents` table (doc_id↔id, text↔text; source/lang stand in for
  * url/title).
  *
  * Scale posture (100 TB): everything below is declarative DataFrame code.
  * The index build tokenizes each document once, into one persisted
  * per-document frame feeding the vocabulary, postings and doc-info tables
  * (the reference reads and tokenizes its corpus in 3 jobs); tf is counted
  * inside the document's row, so no (doc, word) pair is shuffled (the
  * reference shuffles every occurrence, with no combiner,
  * Indexer.java:108-140). The index has one word-keyed format and one
  * query path, as the reference's Query.java has one format; the in-plan
  * searches take that path over a lazy index of the corpus (`indexOf`).
  * The vocabulary side of every join is broadcast (the reference's
  * setup()-loaded side HashMaps, Indexer.java:42-73, done properly);
  * top-k plans as TakeOrderedAndProject (per-partition heaps +
  * driver merge) instead of the reference's single-reducer global sort
  * (Query.java:278).
  *
  * Word ids are sequential in word order (Vocabulary.java:90,103 — quirk
  * Q-a), a total order; `vocabularyFrom` assigns them with the distributed
  * rank of `Ranks` over the *aggregated* vocabulary, never the corpus.
  * Only the in-plan tables carry them; the persisted index is keyed by the
  * word.
  */
object Search {

  /** Default search string. The reference's default is "the good person"
    * (Query.java:27); the synthetic documents vocabulary (31 words) doesn't
    * contain "good"/"person", so the flagship query uses terms that exist —
    * with a repeated term to exercise query-side tf > 1.
    */
  val DefaultQuery = "the fast table scan the"

  /** V1+V3: corpus → (doc_id, word) token stream (RE2-safe tier; see
    * TextOps). One row per occurrence.
    */
  def tokens(docs: DataFrame): DataFrame = {
    val w = explode(TextOps.splitWords(TextOps.normalize(col("text")))).as("word")
    docs.select(col("doc_id"), w).filter(TextOps.isKeptToken(col("word")))
  }

  /** (doc_id, word, tf) — one row per distinct word of a document: postings
    * are a projection of it, and vocabulary df is a count over it. tf is
    * counted inside the document's row (TextOps.termCounts), so this is
    * row-local: no `(doc_id, word)` exchange, no combiner to forget
    * (Indexer.java:108-140 shuffles every occurrence).
    */
  def docWordCounts(docs: DataFrame): DataFrame =
    termRows(docs.select(col("doc_id"), TextOps.termCounts(col("text")).as("terms")))

  /** (doc_id, word, tf) rows of a frame carrying a `terms` column. */
  private def termRows(byDoc: DataFrame): DataFrame =
    byDoc.select(col("doc_id"), inline(col("terms")))

  /** V4+V5: vocabulary — word → (df, word_id), ids sequential in word
    * order per quirk Q-a; df via the partial+final hash aggregate Catalyst
    * plans (the reference's hand-written combiner, Vocabulary.java:58-79,
    * for free).
    */
  def vocabulary(docs: DataFrame): DataFrame = wordIdTables(docs)._2

  /** The word-id tables of a corpus: (byDocWord, vocabulary) — the
    * (doc_id, word, tf) rows and the vocabulary with its ids, the pair
    * postings are built from. byDocWord is read by the vocabulary and by
    * the caller's postings, so on a tiny scan it is cut (`scanned`), and
    * `cutVocabulary` also cuts the vocabulary, for a caller that reads it
    * more than once.
    */
  def wordIdTables(docs: DataFrame,
                   cutVocabulary: Boolean = false): (DataFrame, DataFrame) = {
    val (bdw, tiny) = scanned(docs)(docWordCounts)
    val vocab = vocabularyFrom(bdw, tiny)
    (bdw, if (tiny && cutVocabulary) graftglue.cut(vocab) else vocab)
  }

  /** `frame` of the source scan `docs`, and whether the scan is tiny: the
    * one tiny/scale choice of the in-plan search tables (`wordIdTables`,
    * `indexOf`), made on the SOURCE scan because derived frames carry
    * aggregates and must not be probed. A tiny scan is pinned to
    * SinglePartition, where no exchange is left for ReuseExchange to
    * share, so the frame is cut (`graftglue.cut`, a lazy localCheckpoint
    * that keeps its lineage): every reader shares one tokenize, and plan
    * construction stays job-free.
    */
  private def scanned(docs: DataFrame)(frame: DataFrame => DataFrame): (DataFrame, Boolean) =
    if (Spread.isTiny(docs)) (graftglue.cut(frame(docs.coalesce(1))), true)
    else (frame(docs), false)

  /** Ids are [[Ranks.position]] − 1 in word order, over the aggregated
    * vocabulary: one group, and at most 36 first-character buckets,
    * because every word matches [a-z0-9]+ (TermCountsSpec checks the
    * token domain). Built in-plan (no eager collect, so a query that
    * embeds a vocabulary rebuild runs no job before its action).
    */
  private def vocabularyFrom(byDocWord: DataFrame, tiny: Boolean): DataFrame = {
    // the word aggregate is read twice by Ranks; at scale both reads share
    // its exchange (ReuseExchange), on the tiny path a cut of the
    // vocabulary-sized aggregate does
    val agg0 = byDocWord
      .groupBy("word").agg(count(lit(1)).as("df")) // rows are distinct (doc,word)
    val agg = if (tiny) graftglue.cut(agg0) else agg0
    Ranks.position(agg, Nil, Seq("word"), 1, "word_id")
      .select(col("word"), col("df"), (col("word_id") - 1).as("word_id"))
  }

  /** P1/P2: document metadata table (ParseDocument.java collapses to a
    * projection on the shared corpus scan — no shuffle, no second job).
    */
  def docInfo(docs: DataFrame): DataFrame =
    docs.select("doc_id", "source", "lang", "n_chars")

  /** I1-I3: postings (doc_id, word_id, tf). The vocab side is broadcast —
    * the reference's per-map-task side-file reload (Indexer.java:42-73) as a
    * real torrent-shipped broadcast; tf comes row-local from docWordCounts.
    */
  def postings(docs: DataFrame, vocab: DataFrame): DataFrame =
    postingsFrom(docWordCounts(docs), vocab)

  def postingsFrom(byDocWord: DataFrame, vocab: DataFrame): DataFrame =
    byDocWord
      .join(broadcast(vocab.select("word", "word_id")), "word")
      .select("doc_id", "word_id", "tf")

  /** Q1: driver-side query translation (Query.java:48-58) — tokenize the
    * query string with the same rules, emit (word, qtf): the DataFrame
    * form of `queryTf`.
    */
  def queryTerms(spark: SparkSession, query: String): DataFrame = {
    import spark.implicits._
    queryTf(query).toSeq.toDF("word", "qtf")
  }

  /** A query's word → qtf map (the reference's query tokenizer), built on
    * the driver: the scoring plans carry it as a literal, not a table. */
  private def queryTf(query: String): Map[String, Long] =
    TextOps.tokenizeScala(TextOps.filterTextScala(query))
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }

  /** Q2-Q8: score + top-k. Scoring formula is the reference's exactly
    * (quirk Q-b, Query.java:113-115): score(d) = Σ_{w∈q∩d} tf_d·tf_q/df².
    * No log, no N/df — replicated for parity. The indexed query path over
    * the corpus's lazy index (`indexOf`): one corpus tokenize, df from the
    * query's vocabulary rows, doc metadata joined before the per-document
    * sum, and TakeOrderedAndProject. Ties break on doc_id (quirk Q-d) and the
    * limit is exact k (quirk Q-c's k+1 off-by-one is a bug, not
    * replicated — documented in SearchSpec).
    */
  def searchTopK(spark: SparkSession, dir: String,
                 query: String = DefaultQuery, k: Int = 10): DataFrame =
    indexedTopK(indexOf(Tables.documents(spark, dir)), query, k)

  /** BM25 top-k — the standard probabilistic ranking beside the parity
    * (tf·qtf/df²) and log-idf variants:
    *
    *   score(d) = Σ_{w∈q∩d} ln((N−df+0.5)/(df+0.5)+1) · qtf ·
    *              tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *
    * (Robertson idf, k1/b the classic 1.2/0.75), scored by the indexed
    * BM25 path over the corpus's lazy index: the document lengths are
    * docinfo's `n_tokens`, from the same one tokenize as the postings.
    * Determinism: see bm25TopK.
    */
  def searchTopKBm25(spark: SparkSession, dir: String,
                     query: String = DefaultQuery, k: Int = 10,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopK(indexOf(Tables.documents(spark, dir)), query, k, k1, b)

  /** `searchTopKBm25` with a PRECOMPUTED docinfo table (doc_id, source,
    * lang, n_tokens) — a deployment refreshes it once per corpus version,
    * and the persisted index's docinfo is one — in place of the lazy
    * index's: lengths, N and avgdl are a docinfo-sized read. Identical
    * answer to `searchTopKBm25` / `searchTopKBm25Indexed` (one oracle
    * gates all three tiers).
    */
  def searchTopKBm25Stats(spark: SparkSession, dir: String, docinfo: DataFrame,
                          query: String = DefaultQuery, k: Int = 10,
                          k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopK(indexOf(Tables.documents(spark, dir)).copy(docinfo = docinfo), query, k, k1, b)

  /** Distributed retrieval EVALUATION — the offline quality job a search
    * pipeline runs on every index build, as ONE batch plan instead of a
    * per-query loop: a deterministic query set (consecutive-word-id
    * pairs from the corpus's own vocabulary), every query scored
    * against every matching posting in a single broadcast join, ranks
    * via per-query windows (≤ nQueries partitions), and graded-
    * relevance-free metrics (P@k, MRR@k, with relevance := "doc
    * contains BOTH query terms" — boolean-AND qrels both engines can
    * derive). The per-(query, doc) term-presence count doubles as the
    * relevance label, so scoring and labeling share one aggregate.
    */
  def evalMetrics(docs: DataFrame, nQueries: Int = 20, k: Int = 10): DataFrame = {
    // vocab is read three times: cut it too on the tiny path
    val (bdw, vocab) = wordIdTables(docs, cutVocabulary = true)
    val post = postingsFrom(bdw, vocab)
      .join(broadcast(vocab.select("word_id", "df")), "word_id")
    val qt = vocab.select((col("word_id") / 2).cast("long").as("query_id"),
        col("word_id"))
      .filter(col("query_id") < nQueries)
    val scored = post.join(broadcast(qt), "word_id")
      .groupBy("query_id", "doc_id")
      .agg(Stable.stab(sum(col("tf").cast("double") / (col("df") * col("df"))), 9)
          .as("score"),
        countDistinct("word_id").as("n_terms"))
    val ranked = Ranks.perQueryTopK(scored, k, score = "score", id = "doc_id")
    val nRel = scored.filter(col("n_terms") === 2)
      .groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val perQ = ranked.filter(col("n_terms") === 2)
      .groupBy("query_id").agg(count(lit(1)).as("hits"), min("rank").as("first_rel"))
    qt.select("query_id").distinct()
      .join(nRel, Seq("query_id"), "left")
      .join(perQ, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        (coalesce(col("hits"), lit(0L)).cast("double") / k).as("p_at_k"),
        coalesce(lit(1.0) / col("first_rel"), lit(0.0)).as("mrr"))
      .orderBy("query_id")
  }

  /** Exact-phrase top-k (adjacent 2-token match): docs containing the
    * phrase, ranked by its per-doc frequency. The match count is a
    * ROW-LOCAL array filter over the doc's bigram stream — no explode, no
    * shuffle before the top-k heap. The bigram stream is built with
    * `zip_with` over two slices of the token array, NOT
    * `transform(sequence(...), i => element_at(arr, i))`: higher-order
    * functions run interpreted, and the indexed-lambda form re-enters the
    * element_at path per index — measured 17× slower at sf0.1 (19.4 s vs
    * 1.2 s) for identical output. A production deployment would serve
    * this from bigram postings (same layout as the unigram index); the
    * scan shape here IS that index's build pass.
    */
  def phraseTopK(spark: SparkSession, dir: String,
                 phrase: String = "table hash", k: Int = 10): DataFrame = {
    // Spread: the row-local bigram scoring ran in the single scan task of
    // the one-row-group corpus parquet (see operators.Spread); the top-k
    // heap merge is partition-count-agnostic
    val docs = Spread(Tables.documents(spark, dir))
    val arr = TextOps.splitWords(TextOps.normalize(col("text")))
    val n = size(col("arr"))
    val bigrams = zip_with(
      slice(col("arr"), lit(1), n - 1),
      slice(col("arr"), lit(2), n - 1),
      (a, b) => concat_ws(" ", a, b))
    docs.select(col("doc_id"), arr.as("arr"))
      .filter(size(col("arr")) >= 2)
      .select(col("doc_id"),
        size(filter(bigrams, b => b === lit(phrase))).cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") >= 1)
      .orderBy(desc("phrase_tf"), asc("doc_id")).limit(k)
      .join(broadcast(docInfo(docs).select("doc_id", "source", "lang")), "doc_id")
      .select("doc_id", "phrase_tf", "source", "lang")
      .orderBy(desc("phrase_tf"), asc("doc_id"))
  }

  /** The reference user's exact entry point (Query.java:247-294): free-text
    * query over a WikiExtractor JSON-lines corpus dir → top-k
    * (title, url), score-descending. One Catalyst plan replaces the
    * reference's 5 chained MapReduce jobs; output columns match the
    * reference's result table (`title \t url`, Query.java:236-240) with the
    * deterministic doc_id tie-break (quirk Q-d) and exact k (quirk Q-c
    * documented as a bug, not replicated).
    */
  def searchCorpus(spark: SparkSession, corpusDir: String,
                   query: String = "the good person", k: Int = 10): DataFrame = {
    // the corpus as documents: url → source, title → lang
    val docs = Tables.corpusJson(spark, corpusDir).select(col("id").as("doc_id"),
      col("url").as("source"), col("title").as("lang"),
      length(col("text")).as("n_chars"), col("text"))
    indexedTopK(indexOf(docs), query, k)
      .select(col("lang").as("title"), col("source").as("url"))
  }

  // ---- typed boundary (Dataset[T] views of the pipeline edges) ----

  import graft.model._
  import org.apache.spark.sql.{Dataset, Encoders}

  def vocabularyDS(docs: DataFrame): Dataset[VocabEntry] =
    vocabulary(docs).as(Encoders.product[VocabEntry])

  def postingsDS(docs: DataFrame): Dataset[Posting] =
    postings(docs, vocabulary(docs)).select("doc_id", "word_id", "tf")
      .as(Encoders.product[Posting])

  def searchTopKDS(spark: SparkSession, dir: String,
                   query: String = DefaultQuery, k: Int = 10): Dataset[SearchHit] =
    searchTopK(spark, dir, query, k).as(Encoders.product[SearchHit])

  // ---- the search index: one format, one derivation, one query path ----

  /** Postings are partitioned into `wb = pmod(xxhash64(word), 16)` dirs, so
    * a q-term query reads ≤ q of them whatever the corpus size. Keyed by
    * the word, not a word id: ids would need cross-batch coordination in
    * the incremental index, and scoring never sees them.
    */
  private val Buckets = 16L

  private[graft] def bucket(word: Column): Column =
    pmod(xxhash64(word), lit(Buckets)).cast("int")

  /** Driver-side twin of `bucket` (Spark's `xxhash64` of one string is
    * XXH64 of its UTF-8 bytes, seed 42): a query's buckets cost no job. */
  private[graft] def bucketOf(word: String): Int =
    Math.floorMod(XXH64.hashUTF8String(UTF8String.fromString(word), 42L), Buckets).toInt

  /** An index: vocabulary (word, df), postings (doc_id, word, tf, wb) and
    * docinfo (doc_id, source, lang, n_chars, n_tokens). Two writers share
    * the format: `buildIndex` (one DirSwap generation) and
    * `IncrementalIndex.ingestBatch` (one `batch=N` dir per table, df then
    * the batch's delta).
    */
  final case class Index(vocabulary: DataFrame, postings: DataFrame, docinfo: DataFrame)

  /** Open an index with `read(table, schema)`: explicit schemas read no
    * parquet footer, so opening an index runs no job. */
  private[operators] def index(read: (String, StructType) => DataFrame): Index = Index(
    read("vocabulary", StructType.fromDDL("word STRING, df BIGINT")),
    read("postings", StructType.fromDDL("doc_id BIGINT, word STRING, tf BIGINT, wb INT")),
    read("docinfo", StructType.fromDDL(
      "doc_id BIGINT, source STRING, lang STRING, n_chars BIGINT, n_tokens BIGINT")))

  /** The per-document frame both index forms derive from:
    * `(doc_id, source, lang, n_chars, terms)`, each document tokenized once
    * (TextOps.termCounts). n_chars is cast because some corpora store it
    * as INT and the index's read schema says BIGINT.
    */
  private def termFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("lang"), col("n_chars").cast("long").as("n_chars"),
      TextOps.termCounts(col("text")).as("terms"))

  /** The index tables of a term frame: vocabulary and postings come from
    * its explode with no (doc, word) shuffle, and docinfo is a row-local
    * projection whose `n_tokens` = Σtf is the BM25 document length (0 for
    * a document with no kept token, which the BM25 statistics leave out).
    */
  private def indexFrom(byDoc: DataFrame): Index = {
    val byDocWord = termRows(byDoc)
    Index(
      byDocWord.groupBy("word").agg(count(lit(1)).as("df")), // rows are distinct (doc, word)
      byDocWord.withColumn("wb", bucket(col("word"))),
      byDoc.select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        aggregate(col("terms.tf"), lit(0L), _ + _).as("n_tokens")))
  }

  /** The lazy index of a document set: nothing is persisted, and a
    * query over it reads only what the query needs — a `word IN (q)`
    * filter on the vocabulary is pushed below its aggregate, so df stays
    * query-sized. On a tiny scan the term frame is cut (`scanned`), so the
    * vocabulary, postings and docinfo share one tokenize.
    */
  def indexOf(docs: DataFrame): Index = indexFrom(scanned(docs)(termFrame)._1)

  /** The index of a document set, its term frame persisted while `write`
    * runs: the build's three tables share one tokenize. */
  private[operators] def withIndexOf[T](docs: DataFrame)(write: Index => T): T = {
    // MEMORY_AND_DISK: the frame holds every term array, so it must spill
    val byDoc = termFrame(docs).persist(StorageLevel.MEMORY_AND_DISK)
    try write(indexFrom(byDoc))
    finally byDoc.unpersist()
  }

  /** An index's tables as written: (name, rows, partition columns). */
  private[operators] def indexTables(ix: Index): Seq[(String, DataFrame, Seq[String])] = Seq(
    ("vocabulary", ix.vocabulary, Nil),
    ("postings", ix.postings.repartition(col("wb")), Seq("wb")), // one file per bucket
    ("docinfo", ix.docinfo, Nil))

  /** Build-once index of `dir`'s documents (the reference re-reads and
    * re-tokenizes its corpus per job, Indexer.java:42-73). All three tables
    * land under ONE DirSwap marker scope: a crashed (re)build never leaves
    * postings complete but docinfo missing.
    */
  def buildIndex(spark: SparkSession, dir: String, indexDir: String): Unit =
    withIndexOf(Tables.documents(spark, dir)) { ix =>
      DirSwap.swap(indexDir, indexTables(ix).map { case (name, rows, parts) =>
        name -> ((out: String) => rows.write.partitionBy(parts: _*).parquet(out))
      })
    }

  def openIndex(spark: SparkSession, indexDir: String): Index =
    index((t, schema) => spark.read.schema(schema).parquet(s"$indexDir/$t"))

  /** (word, doc_id, tf, wb, qtf, df) of the query's terms — the one read
    * behind every indexed search. Partition pruning on a driver-computed
    * `wb IN (...)` reads ≤ |q| bucket dirs, under the guarded
    * SinglePartition pin (a no-op at a production index, where a bucket is
    * many splits). qtf is a lookup in the query's literal word → qtf map,
    * and other words of those buckets drop out where it finds none (not a
    * word filter pushed to parquet: a bucket file mixes words, so its
    * dictionary reads skip nothing). df joins from ONE broadcast of the
    * vocabulary's `word IN (q)` rows: no job at plan time, no query-term
    * table. The LEFT join keeps the job count timing-free: for a query of
    * absent words only, an inner join's empty broadcast would be
    * propagated by AQE over the whole plan while sibling stages start.
    */
  private[graft] def indexedPostings(ix: Index, query: String): DataFrame = {
    val qtf = queryTf(query)
    Spread.tight(ix.postings.filter(col("wb").isin(qtf.keys.map(bucketOf).toSeq: _*)))
      .withColumn("qtf", element_at(typedLit(qtf), col("word")))
      .filter(col("qtf").isNotNull)
      .join(broadcast(ix.vocabulary.filter(col("word").isin(qtf.keys.toSeq: _*))), Seq("word"), "left")
  }

  /** The shared Q2-Q8 tail: the postings join ONE broadcast of docinfo
    * (source, lang and n_tokens, BM25's dl) before Σ `part` per document,
    * rounded to `digits` with source and lang carried through the group;
    * then the exact top-k by (score desc, doc_id asc), TakeOrderedAndProject. */
  private def topK(ix: Index, postings: DataFrame, part: Column, digits: Int,
                   k: Int): DataFrame =
    postings.join(broadcast(ix.docinfo.select("doc_id", "source", "lang", "n_tokens")), "doc_id")
      .groupBy("doc_id", "source", "lang")
      .agg(Stable.stab(sum(part), digits).as("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(k)
      .select("doc_id", "score", "source", "lang")

  /** Parity top-k over an index (persisted, incremental or lazy): the
    * reference's score (quirk Q-b), Σ tf·qtf/df². */
  private[operators] def indexedTopK(ix: Index, query: String, k: Int): DataFrame =
    topK(ix, indexedPostings(ix, query),
      col("tf") * col("qtf") / (col("df").cast("double") * col("df")), 9, k)

  /** `searchTopK`'s answer (same formula, same tie-break) from the index. */
  def searchTopKIndexed(spark: SparkSession, indexDir: String,
                        query: String = DefaultQuery, k: Int = 10): DataFrame =
    indexedTopK(openIndex(spark, indexDir), query, k)

  /** BM25 top-k over an index: the one BM25 path of every tier (formula
    * on searchTopKBm25). N and avgdl are a one-row aggregate of docinfo,
    * broadcast onto every posting; a document with no kept token
    * (n_tokens = 0) is left out of them. avgdl is sum/count, not avg: dl
    * is integer-valued, so the sum is EXACT in any aggregation order and
    * avgdl is bit-stable across engines.
    */
  private def bm25TopK(ix: Index, query: String, k: Int,
                       k1: Double, b: Double): DataFrame = {
    val dl = col("n_tokens").cast("double")
    val stats = ix.docinfo.filter(col("n_tokens") > 0)
      .agg(count(lit(1)).cast("double").as("n_docs"), (sum(dl) / count(lit(1))).as("avgdl"))
    topK(ix, indexedPostings(ix, query).crossJoin(broadcast(stats)),
      log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
        col("qtf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * dl / col("avgdl"))), 6, k)
  }

  /** `searchTopKBm25`'s answer (same oracle) with ZERO corpus scans: tf/df
    * from the pruned postings and vocabulary, document lengths from
    * docinfo's `n_tokens`, N and avgdl a docinfo-sized aggregate.
    */
  def searchTopKBm25Indexed(spark: SparkSession, indexDir: String,
                            query: String = DefaultQuery, k: Int = 10,
                            k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopK(openIndex(spark, indexDir), query, k, k1, b)
}
