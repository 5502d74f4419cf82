package graft.queries

import graft.GraftQuery
import graft.operators.Search
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Search-pipeline queries + their DuckDB oracles (SURVEY.md §2.1-2.5). */
object SearchQueries {

  /** Shared DuckDB CTE bodies — the RE2-safe twin of Search.tokens /
    * Search.vocabulary / Search.postings.
    */
  val tokCte: String =
    """tok AS (
      |  SELECT doc_id, w AS word
      |  FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) t(w)
      |  WHERE length(w) > 0 AND NOT regexp_matches(w, '^[0-9]+$'))""".stripMargin

  val vocabCte: String =
    """vocab AS (
      |  SELECT word, count(DISTINCT doc_id) AS df,
      |         row_number() OVER (ORDER BY word) - 1 AS word_id
      |  FROM tok GROUP BY word)""".stripMargin

  val postingsCte: String =
    """postings AS (
      |  SELECT t.doc_id, v.word_id, v.word, v.df, count(*) AS tf
      |  FROM tok t JOIN vocab v USING (word)
      |  GROUP BY t.doc_id, v.word_id, v.word, v.df)""".stripMargin

  /** The query terms of `Search.DefaultQuery` (the=2, fast/table/scan=1). */
  private val qCte = "q(word, qtf) AS (VALUES ('the', 2), ('fast', 1), ('table', 1), ('scan', 1))"

  /** The parity top-10 over `postings` and `q`: the scores and topk CTEs. */
  private val parityTopKCtes: String =
    """scores AS (
      |  SELECT p.doc_id,
      |         floor(sum(p.tf * q.qtf / (CAST(p.df AS DOUBLE) * p.df))*1000000000.0+0.5)/1000000000.0 AS score
      |  FROM postings p JOIN q USING (word) GROUP BY p.doc_id),
      |topk AS (SELECT doc_id, score FROM scores ORDER BY score DESC, doc_id LIMIT 10)""".stripMargin

  /** Shared by search_topk / search_topk_indexed / search_topk_incremental:
    * all three paths must produce this exact answer.
    */
  lazy val searchTopKOracle: String =
    s"""WITH $tokCte, $vocabCte, $postingsCte,
       |$qCte,
       |$parityTopKCtes
       |SELECT t.doc_id, t.score, d.source, d.lang
       |FROM topk t JOIN documents d USING (doc_id)
       |ORDER BY t.score DESC, t.doc_id""".stripMargin

  /** `d`'s persisted search index, built on first use. The kind tag names
    * the index generation: bump it when the layout or the build changes,
    * or a cached index the old code wrote is read through.
    */
  private def searchIndex(s: SparkSession, d: String): String =
    Persisted.indexDir(s, d, "index-b3", "documents.parquet", "postings")(
      Search.buildIndex(s, d, _))

  /** `/tmp/graft-<kind>/<name>`, the name derived from the data dir `d`.
    * It never starts with `_` or `.`: Spark treats such a path as hidden
    * and warns that it ignored it. */
  private def cacheDir(kind: String, d: String): String =
    s"/tmp/graft-$kind/${Persisted.sanitized(d)}"

  def all: Seq[GraftQuery] = Seq(

    GraftQuery("vocab_build",
      // Search.vocabulary takes the metadata-scale path internally
      // (Search.wordIdTables): SinglePartition pin + checkpoint cuts
      (s, d) => Search.vocabulary(Tables.documents(s, d)).orderBy("word"),
      Some(
        s"""WITH $tokCte
           |SELECT word, count(DISTINCT doc_id) AS df,
           |       row_number() OVER (ORDER BY word) - 1 AS word_id
           |FROM tok GROUP BY word ORDER BY word""".stripMargin)),

    GraftQuery("doc_info",
      (s, d) => Search.docInfo(Tables.documents(s, d)).orderBy("doc_id"),
      Some("SELECT doc_id, source, lang, n_chars FROM documents ORDER BY doc_id")),

    GraftQuery("postings_tf",
      (s, d) => {
        val (bdw, vocab) = Search.wordIdTables(Tables.documents(s, d))
        Search.postingsFrom(bdw, vocab)
          .select("doc_id", "word_id", "tf").orderBy("doc_id", "word_id")
      },
      Some(
        s"""WITH $tokCte, $vocabCte
           |SELECT t.doc_id, v.word_id, count(*) AS tf
           |FROM tok t JOIN vocab v USING (word)
           |GROUP BY t.doc_id, v.word_id ORDER BY t.doc_id, v.word_id""".stripMargin)),

    // Reference-format TSV sinks, gated END TO END (round 11): write the
    // vocabulary in the reference byte layout (word \t "wordId df" —
    // Vocabulary.java:101-105), read it back through the same file
    // contract, and hash-compare the round-tripped rows against the
    // vocab_build oracle. A layout drift in EITHER the writer or the
    // reader breaks the parse-back and fails the gate — this puts the one
    // remaining reference-surface component (V6/P4/I4) on the oracle
    // ledger instead of only the TsvSpec byte goldens.
    GraftQuery("tsv_roundtrip",
      (s, d) => {
        val out = s"${cacheDir("tsvrt", d)}_vocab"
        graft.sources.Tsv.writeVocabulary(
          Search.vocabulary(Tables.documents(s, d)), out, sorted = true)
        graft.sources.Tsv.readVocabulary(s, out).orderBy("word")
      },
      Some(
        s"""WITH $tokCte
           |SELECT word, count(DISTINCT doc_id) AS df,
           |       row_number() OVER (ORDER BY word) - 1 AS word_id
           |FROM tok GROUP BY word ORDER BY word""".stripMargin)),

    // Same gate for the postings sink (docId \t wordId \t tf —
    // Indexer.java:110,131-137), against the postings_tf oracle.
    GraftQuery("tsv_roundtrip_postings",
      (s, d) => {
        val (bdw, vocab) = Search.wordIdTables(Tables.documents(s, d))
        val out = s"${cacheDir("tsvrt", d)}_postings"
        graft.sources.Tsv.writePostings(
          Search.postingsFrom(bdw, vocab).select("doc_id", "word_id", "tf"), out)
        graft.sources.Tsv.readPostings(s, out).orderBy("doc_id", "word_id")
      },
      Some(
        s"""WITH $tokCte, $vocabCte
           |SELECT t.doc_id, v.word_id, count(*) AS tf
           |FROM tok t JOIN vocab v USING (word)
           |GROUP BY t.doc_id, v.word_id ORDER BY t.doc_id, v.word_id""".stripMargin)),

    // Flagship: the reference's entire Query.java path in one plan.
    // Query "the fast table scan the" → qtf: the=2, fast/table/scan=1.
    GraftQuery("search_topk",
      (s, d) => Search.searchTopK(s, d, Search.DefaultQuery, 10),
      Some(searchTopKOracle)),

    // Same answer as search_topk, but from the persisted word-bucketed
    // index (Search.buildIndex → searchTopKIndexed): build-once-query-many,
    // with partition pruning to the query's own buckets. The index is
    // (re)built on first use per SF dir — the build cost shows up here
    // once; the steady-state query is scan-free.
    GraftQuery("search_topk_indexed",
      (s, d) => Search.searchTopKIndexed(s, searchIndex(s, d), Search.DefaultQuery, 10),
      Some(searchTopKOracle)),

    // Same answer again, from the *incrementally* built index
    // (IncrementalIndex: the same word-keyed format, one dir per batch;
    // the spec also drives it via streaming foreachBatch). Built
    // on first use by ingesting the corpus as two disjoint batches.
    GraftQuery("search_topk_incremental",
      (s, d) => {
        val idx = Persisted.incrementalDir(d)
        // _DONE marker written only after the LAST batch: a crash mid-ingest
        // leaves no marker, so the next run rebuilds instead of querying a
        // half-ingested index
        if (!new java.io.File(s"$idx/_DONE").exists()) {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
          val docs = Tables.documents(s, d)
          graft.operators.IncrementalIndex.ingestBatch(docs.filter(col("doc_id") % 2 === 0), idx, 0L)
          graft.operators.IncrementalIndex.ingestBatch(docs.filter(col("doc_id") % 2 === 1), idx, 1L)
          new java.io.File(s"$idx/_DONE").createNewFile()
        }
        graft.operators.IncrementalIndex.searchTopK(s, idx, Search.DefaultQuery, 10)
      },
      Some(searchTopKOracle)),

    // The reference user's literal entry point (Query.java): free-text
    // query over a WikiExtractor JSON-lines corpus dir → (title, url).
    // The corpus is staged once from `documents` (id=doc_id, url=source,
    // title=lang) as an AA* JSON-lines file, then Search.searchCorpus runs
    // the reference's 5-job pipeline as one plan, search_topk's indexed
    // path over the corpus's lazy index. Oracle = search_topk's scoring
    // projected to the reference's output columns.
    GraftQuery("search_topk_corpus",
      (s, d) => {
        val dir = cacheDir("corpus", d)
        if (!new java.io.File(s"$dir/_DONE").exists()) {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
          new java.io.File(dir).mkdirs()
          import org.apache.spark.sql.functions._
          Tables.documents(s, d)
            .select(to_json(struct(
              col("doc_id").cast("string").as("id"), // WikiExtractor quotes ids
              col("source").as("url"), col("lang").as("title"),
              col("text"))).as("value"))
            .coalesce(1).write.mode("overwrite").text(s"$dir/staging")
          val part = new java.io.File(s"$dir/staging").listFiles()
            .filter(_.getName.startsWith("part-")).head
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$dir/AA_wiki_00"))
          new java.io.File(s"$dir/_DONE").createNewFile()
        }
        graft.operators.Search.searchCorpus(s, dir, Search.DefaultQuery, 10)
      },
      Some(
        s"""WITH $tokCte, $vocabCte, $postingsCte,
           |$qCte,
           |$parityTopKCtes
           |SELECT d.lang AS title, d.source AS url
           |FROM topk t JOIN documents d USING (doc_id)
           |ORDER BY t.score DESC, t.doc_id""".stripMargin)),

    // Log-idf variant (the "classical fix" flagged in SURVEY.md quirk Q-b):
    // score = Σ tf_d · tf_q · ln(N/df). Kept alongside the parity formula.
    GraftQuery("search_topk_logidf",
      (s, d) => {
        // N = docinfo rows, in the plan (a single-row broadcast joined to
        // every posting): an eager count would run a job per invocation
        val ix = Search.indexOf(Tables.documents(s, d))
        val nDf = ix.docinfo.agg(count(lit(1)).cast("double").as("n_docs"))
        Search.indexedPostings(ix, Search.DefaultQuery)
          .crossJoin(broadcast(nDf))
          .select(col("doc_id"),
            (col("tf") * col("qtf") * log(col("n_docs") / col("df"))).as("part"))
          .groupBy("doc_id")
          // stab(6), not 9: ln() is libm, engines may differ in the last ulp
          .agg(graft.functions.Stable.stab(sum(col("part")), 6).as("score"))
          .orderBy(desc("score"), asc("doc_id")).limit(10)
      },
      Some(
        s"""WITH $tokCte, $vocabCte, $postingsCte,
           |$qCte,
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
           |scores AS (
           |  SELECT p.doc_id,
           |         floor(sum(p.tf * q.qtf * ln((SELECT n FROM n) / p.df))*1000000.0+0.5)/1000000.0 AS score
           |  FROM postings p JOIN q USING (word) GROUP BY p.doc_id)
           |SELECT doc_id, score FROM scores ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // Exact-phrase top-k: row-local bigram-array filter (no explode, no
    // pre-top-k shuffle), integer counts — hash-gated with no stabilizer.
    GraftQuery("search_phrase",
      (s, d) => Search.phraseTopK(s, d),
      Some(
        """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM documents),
          |b AS (
          |  SELECT doc_id, count(*) AS phrase_tf
          |  FROM d, unnest(range(1, len(arr))) t(i)
          |  WHERE len(arr) >= 2 AND arr[i] || ' ' || arr[i+1] = 'table hash'
          |  GROUP BY doc_id),
          |topk AS (SELECT doc_id, phrase_tf FROM b ORDER BY phrase_tf DESC, doc_id LIMIT 10)
          |SELECT t.doc_id, CAST(t.phrase_tf AS BIGINT) AS phrase_tf, d2.source, d2.lang
          |FROM topk t JOIN documents d2 ON d2.doc_id = t.doc_id
          |ORDER BY phrase_tf DESC, t.doc_id""".stripMargin)),

    // BM25 (k1=1.2, b=0.75, Robertson idf) — the standard probabilistic
    // ranking beside the parity and log-idf formulas, fully hash-gated:
    // doc lengths are exact integer-valued sums (bit-stable avgdl, no
    // stabilizer), the per-term ln is stab(6)-collapsed like log-idf.
    // Three tiers share the oracle and the one indexed BM25 path; they
    // differ only in the index they score.
    GraftQuery("search_topk_bm25",
      (s, d) => Search.searchTopKBm25(s, d),
      Some(bm25Oracle)),

    // The persisted index, with ZERO corpus scans: tf/df from the
    // bucket-pruned postings + vocabulary, document lengths from docinfo's
    // n_tokens.
    GraftQuery("search_topk_bm25_indexed",
      (s, d) => Search.searchTopKBm25Indexed(s, searchIndex(s, d)),
      Some(bm25Oracle)),

    // The corpus's lazy index with the persisted docinfo (refreshed once
    // per corpus version) swapped in: document lengths, N and avgdl are a
    // docinfo-sized read.
    GraftQuery("search_topk_bm25_stats",
      (s, d) => Search.searchTopKBm25Stats(s, d, Search.openIndex(s, searchIndex(s, d)).docinfo),
      Some(bm25Oracle)),

    // Distributed retrieval evaluation — the offline quality job of every
    // index build, as ONE batch plan: a vocabulary-derived query set
    // (consecutive word-id pairs), all queries scored in a single
    // broadcast join, per-query ranks over ≤|queries| window partitions,
    // P@10 / MRR@10 against boolean-AND relevance (doc contains both
    // terms) that both engines derive from the postings themselves.
    GraftQuery("search_eval",
      (s, d) => Search.evalMetrics(Tables.documents(s, d), 20, 10),
      Some(
        s"""WITH $tokCte, $vocabCte, $postingsCte,
           |qt AS (
           |  SELECT word_id // 2 AS query_id, word_id FROM vocab
           |  WHERE word_id // 2 < 20),
           |j AS (
           |  SELECT q.query_id, p.doc_id, p.tf, p.df, q.word_id
           |  FROM postings p JOIN qt q USING (word_id)),
           |sc AS (
           |  SELECT query_id, doc_id,
           |    floor(sum(CAST(tf AS DOUBLE) / (df * df)) * 1000000000.0 + 0.5)
           |      / 1000000000.0 AS score,
           |    count(DISTINCT word_id) AS n_terms
           |  FROM j GROUP BY 1, 2),
           |rk AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY score DESC, doc_id) AS rnk FROM sc),
           |top AS (SELECT * FROM rk WHERE rnk <= 10),
           |nrel AS (
           |  SELECT query_id, count(*) AS n_rel FROM sc WHERE n_terms = 2 GROUP BY 1),
           |hq AS (
           |  SELECT query_id, count(*) AS hits, min(rnk) AS first_rel
           |  FROM top WHERE n_terms = 2 GROUP BY 1)
           |SELECT q.query_id,
           |  COALESCE(n_rel, 0) AS n_rel,
           |  CAST(COALESCE(hits, 0) AS DOUBLE) / 10.0 AS p_at_k,
           |  COALESCE(1.0 / first_rel, 0.0) AS mrr
           |FROM (SELECT DISTINCT query_id FROM qt) q
           |LEFT JOIN nrel USING (query_id) LEFT JOIN hq USING (query_id)
           |ORDER BY query_id""".stripMargin))
  )

  lazy val bm25Oracle: String =
        s"""WITH $tokCte,
           |$qCte,
           |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, sum(dl)/count(*) AS avgdl FROM dl),
           |post AS (
           |  SELECT doc_id, word, count(*) AS tf FROM tok
           |  WHERE word IN (SELECT word FROM q) GROUP BY doc_id, word),
           |dfx AS (SELECT word, count(*) AS df FROM post GROUP BY word),
           |scores AS (
           |  SELECT p.doc_id,
           |    floor(sum(ln((st.n_docs - dfx.df + 0.5)/(dfx.df + 0.5) + 1.0) * q.qtf *
           |              (p.tf * 2.2) / (p.tf + 1.2*(1.0 - 0.75 + 0.75*dl.dl/st.avgdl))
           |             )*1000000.0+0.5)/1000000.0 AS score
           |  FROM post p JOIN q USING (word) JOIN dfx USING (word)
           |       JOIN dl USING (doc_id), st
           |  GROUP BY p.doc_id),
           |topk AS (SELECT doc_id, score FROM scores ORDER BY score DESC, doc_id LIMIT 10)
           |SELECT t.doc_id, t.score, d.source, d.lang
           |FROM topk t JOIN documents d USING (doc_id)
           |ORDER BY t.score DESC, t.doc_id""".stripMargin
}
