package graft.queries

import graft.GraftQuery
import graft.operators.TextAnalysis
import graft.sources.Tables

/** Text-analysis suite over `documents`, with DuckDB oracles. */
object TextAnalysisQueries {

  /** The clean gate's oracle tail over a CTE named `tok` (doc_id, word):
    * per-doc ratios, the quality formula, and the 30/0.32/0.02 gates —
    * single-sourced into text_clean_corpus and text_extract_clean so a
    * threshold tune cannot leave a stale copy behind.
    */
  /** The clean gate's tokenizer CTE over a CTE named `e` (doc_id, text):
    * produces `tok` (doc_id, word) — single-sourced into
    * text_extract_clean and crawl_extract_clean (same rationale as
    * [[cleanGateTailSql]]: a tokenizer tweak must not leave a stale
    * copy in the other oracle).
    */
  lazy val cleanTokCteSql: String =
    s"""tok AS (
       |  SELECT doc_id, t.w AS word
       |  FROM e, unnest(regexp_split_to_array(
       |    regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+')) t(w)
       |  WHERE length(t.w) > 0 AND NOT regexp_matches(t.w, '^[0-9]+$$'))""".stripMargin

  lazy val cleanGateTailSql: String =
    s"""f AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN word IN $stopListSql THEN 1 ELSE 0 END) AS DOUBLE)
       |      / count(*) AS stopword_ratio,
       |    CAST(sum(CASE WHEN regexp_matches(word, '[0-9]') THEN 1 ELSE 0 END) AS DOUBLE)
       |      / count(*) AS digit_ratio,
       |    CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS ttr
       |  FROM tok GROUP BY doc_id),
       |q AS (
       |  SELECT doc_id, n_tokens, stopword_ratio,
       |    least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * ttr * (1.0 - digit_ratio) AS quality
       |  FROM f)
       |SELECT doc_id, n_tokens, quality,
       |  CASE WHEN stopword_ratio >= 0.02 THEN 'en' ELSE 'und' END AS lang_pred
       |FROM q
       |WHERE n_tokens >= 30 AND quality >= 0.32 AND stopword_ratio >= 0.02
       |ORDER BY doc_id""".stripMargin

  val stopListSql: String =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString("(", ",", ")")

  /** The best-fit packing chain (round 16): the ENTIRE
    * first-fit-decreasing run as a recursive CTE over the 20-token
    * length classes (descending), the DuckDB twin of
    * Curation.ffdSchedule. State is ONE row per iteration: the bin
    * GROUPS list (identical bins share (remaining, count, first index)
    * — each class step touches the groups in index order and splits at
    * most the last touched one), the accumulated placement segments
    * (rank range → first bin + items-per-bin), and the bin counter. The
    * per-class fill is pure list arithmetic: per-group capacity
    * ⌊rem/cls⌋·cnt, prefix capacities via list_slice sums, clamp to the
    * class count, then overflow into ⌈rest/⌊500/cls⌋⌉ fresh bins.
    * `allasg` maps every doc through rank→bin segment arithmetic; ranks
    * are (md5(doc_id), doc_id) within class, oversize docs (> budget)
    * take singleton bins after the packed ones. Emits tk, cl, fin,
    * allasg.
    */
  def bestfitCtes: String =
    """tk AS (
      |  SELECT doc_id,
      |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> length(w) > 0))::BIGINT AS n_tok,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |cl AS (
      |  SELECT doc_id, n_tok, LEAST(500, ((n_tok + 19) // 20) * 20) AS cls, h
      |  FROM tk WHERE n_tok >= 1 AND n_tok <= 500),
      |lens AS (
      |  SELECT cls, CAST(count(*) AS BIGINT) AS m,
      |    CAST(row_number() OVER (ORDER BY cls DESC) AS BIGINT) AS i
      |  FROM cl GROUP BY cls),
      |st AS (
      |  SELECT CAST(0 AS BIGINT) AS i,
      |    CAST([] AS STRUCT(rem BIGINT, cnt BIGINT, fidx BIGINT)[]) AS groups,
      |    CAST([] AS STRUCT(cls BIGINT, rlo BIGINT, rhi BIGINT, fbin BIGINT, q BIGINT)[]) AS pl,
      |    CAST(0 AS BIGINT) AS nb
      |  UNION ALL
      |  SELECT i, groups2 AS groups, pl2 AS pl, nb2 AS nb FROM (
      |    SELECT b.i, b.m, b.cls, b.nb0, b.pl0,
      |      list_transform(b.ext, e -> struct_pack(
      |        rem := e.rem, cnt := e.cnt, fidx := e.fidx, q := e.q,
      |        x := GREATEST(0, LEAST(b.m - e.cumbef, e.q * e.cnt)),
      |        cumbef := e.cumbef)) AS ext2,
      |      GREATEST(0, b.m - COALESCE(list_sum(list_transform(b.ext, e -> e.q * e.cnt)), 0)) AS m_rest,
      |      500 // b.cls AS q0
      |    FROM (
      |      SELECT s.i + 1 AS i, l.m, l.cls, s.nb AS nb0, s.pl AS pl0,
      |        list_transform(range(1, len(s.groups) + 1), j -> struct_pack(
      |          rem := s.groups[j].rem, cnt := s.groups[j].cnt, fidx := s.groups[j].fidx,
      |          q := CASE WHEN s.groups[j].rem >= l.cls THEN s.groups[j].rem // l.cls ELSE CAST(0 AS BIGINT) END,
      |          cumbef := COALESCE(list_sum(list_transform(list_slice(s.groups, 1, j - 1),
      |            y -> CASE WHEN y.rem >= l.cls THEN (y.rem // l.cls) * y.cnt ELSE CAST(0 AS BIGINT) END)), 0)))
      |          AS ext
      |      FROM st s JOIN lens l ON l.i = s.i + 1) b
      |  ) w, LATERAL (
      |    SELECT
      |      list_concat(
      |        flatten(list_transform(w.ext2, e -> list_filter([
      |          struct_pack(rem := e.rem - e.q * w.cls,
      |                      cnt := CASE WHEN e.q > 0 THEN e.x // e.q ELSE CAST(0 AS BIGINT) END,
      |                      fidx := e.fidx),
      |          struct_pack(rem := e.rem - (CASE WHEN e.q > 0 THEN e.x % e.q ELSE CAST(0 AS BIGINT) END) * w.cls,
      |                      cnt := CASE WHEN e.q > 0 AND e.x % e.q > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
      |                      fidx := e.fidx + CASE WHEN e.q > 0 THEN e.x // e.q ELSE CAST(0 AS BIGINT) END),
      |          struct_pack(rem := e.rem,
      |                      cnt := e.cnt - (CASE WHEN e.q > 0 THEN e.x // e.q ELSE CAST(0 AS BIGINT) END)
      |                             - (CASE WHEN e.q > 0 AND e.x % e.q > 0 THEN 1 ELSE 0 END),
      |                      fidx := e.fidx + (CASE WHEN e.q > 0 THEN e.x // e.q ELSE CAST(0 AS BIGINT) END)
      |                              + (CASE WHEN e.q > 0 AND e.x % e.q > 0 THEN 1 ELSE 0 END))
      |          ], p -> p.cnt > 0))),
      |        CASE WHEN w.m_rest > 0 THEN list_filter([
      |          struct_pack(rem := 500 - w.q0 * w.cls,
      |                      cnt := (w.m_rest + w.q0 - 1) // w.q0 - 1,
      |                      fidx := w.nb0),
      |          struct_pack(rem := 500 - (w.m_rest - ((w.m_rest + w.q0 - 1) // w.q0 - 1) * w.q0) * w.cls,
      |                      cnt := CAST(1 AS BIGINT),
      |                      fidx := w.nb0 + (w.m_rest + w.q0 - 1) // w.q0 - 1)
      |          ], p -> p.cnt > 0)
      |        ELSE [] END) AS groups2,
      |      list_concat(w.pl0, list_concat(
      |        list_transform(list_filter(w.ext2, e -> e.x > 0), e -> struct_pack(
      |          cls := w.cls, rlo := e.cumbef + 1, rhi := e.cumbef + e.x,
      |          fbin := e.fidx, q := e.q)),
      |        CASE WHEN w.m_rest > 0 THEN [struct_pack(
      |          cls := w.cls, rlo := w.m - w.m_rest + 1, rhi := w.m,
      |          fbin := w.nb0, q := w.q0)] ELSE [] END)) AS pl2,
      |      w.nb0 + CASE WHEN w.m_rest > 0 THEN (w.m_rest + w.q0 - 1) // w.q0 ELSE 0 END AS nb2
      |  ) z
      |),
      |fin AS (SELECT * FROM st ORDER BY i DESC LIMIT 1),
      |plr AS (SELECT u.p.cls AS cls, u.p.rlo AS rlo, u.p.rhi AS rhi, u.p.fbin AS fbin, u.p.q AS q
      |        FROM fin, unnest(fin.pl) u(p)),
      |rk AS (
      |  SELECT doc_id, n_tok, cls,
      |    CAST(row_number() OVER (PARTITION BY cls ORDER BY h, doc_id) AS BIGINT) AS t
      |  FROM cl),
      |ovr AS (
      |  SELECT doc_id, n_tok,
      |    CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS t
      |  FROM tk WHERE n_tok > 500),
      |allasg AS (
      |  SELECT r.doc_id, r.n_tok, r.cls, p.fbin + (r.t - p.rlo) // p.q AS bin
      |  FROM rk r JOIN plr p ON p.cls = r.cls AND r.t BETWEEN p.rlo AND p.rhi
      |  UNION ALL
      |  SELECT o.doc_id, o.n_tok, o.n_tok AS cls, (SELECT nb FROM fin) + o.t - 1 AS bin
      |  FROM ovr o)""".stripMargin

  /** The bigram LM, trained once per SF dir and persisted — a pipeline
    * trains the model once and scores many corpora; the scorer then runs
    * ONE corpus pass + one model join (in-plan training re-scanned the
    * corpus once per pruned model branch).
    */
  /** DuckDB twin of Sketch.cmsSketch over the `documents` CTE/table in
    * scope: the TextOps normalize+split token stream, one XxhashSql
    * string chain over (distinct token) × d rows hashing
    * "cms<r>:<token>" from seed 42, cells = signed-hash mod w with
    * occurrence counts summed. Emits `tc` (token, cnt), `qcb9` (the
    * per-(token, r) hash — reused by the estimate card's probe side)
    * and `cms` (r, c, cnt).
    */
  def cmsCtes(d: Int, w: Int): String =
    s"""ntok AS (
       |  SELECT w AS token
       |  FROM documents, unnest(regexp_split_to_array(
       |    regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+')) t(w)
       |  WHERE length(w) > 0),
       |tc AS (SELECT token, count(*) AS cnt FROM ntok GROUP BY token),
       |cse AS (SELECT token, cnt, r.r AS r,
       |  hex(encode('cms' || r.r || ':' || token)) AS hx,
       |  octet_length(encode('cms' || r.r || ':' || token)) AS ln,
       |  CAST(42 AS UBIGINT) AS useed
       |  FROM tc, range(0, $d) r(r)),
       |${XxhashSql.strChainCtes("qc", "cse", Seq("token", "cnt", "r"))},
       |cms AS (SELECT CAST(r AS INT) AS r,
       |  CAST(((xh % $w) + $w) % $w AS INT) AS c,
       |  CAST(sum(cnt) AS BIGINT) AS cnt FROM qcb9 GROUP BY 1, 2)""".stripMargin

  /** Winnowed fingerprints of the natural CORPUS fixture, persisted
    * SF-independently (committed bytes — the DedupQueries
    * persistedNatural* discipline).
    */
  def persistedNaturalWinnow(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    Persisted(s,
      new java.io.File(graft.sources.NaturalCorpus.CorpusPath).getParent,
      "natwin", "natural_corpus.parquet") {
      TextAnalysis.winnowing(graft.sources.NaturalCorpus.corpus(s))
        .withColumnRenamed("fp", "shk")
    }

  def persistedBigramLm(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Persisted(s, d, "bigramlm", "documents.parquet") {
      TextAnalysis.bigramLm(Tables.documents(s, d))
    }

  /** Winnowing fingerprint chain over `documents`, ending in
    * `fp(doc_id, fp)` / `sz(doc_id, n_fp)` / `inter(doc_a, doc_b,
    * n_common)` — shared by the copy-detection pair tiers and the
    * cluster-keep query.
    */
  val winnowFpCtes: String =
    """d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM documents),
      |g AS (
      |  SELECT doc_id, i - 1 AS pos, len(arr) - 2 AS n_grams,
      |    CAST(CAST(CONCAT('0x', substr(md5(arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]), 1, 15)) AS BIGINT) AS HUGEINT)
      |      * 1048576 + (1048575 - (i - 1)) AS ck
      |  FROM d, unnest(range(1, len(arr) - 1)) t(i)
      |  WHERE len(arr) >= 6),
      |m AS (
      |  SELECT doc_id, pos, n_grams,
      |    min(ck) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
      |  FROM g),
      |fp AS (
      |  SELECT DISTINCT doc_id, CAST(m // 1048576 AS BIGINT) AS fp
      |  FROM m WHERE pos <= n_grams - 4),
      |sz AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared oracle of the two winnowing copy-detection tiers (plain and
    * prefix-filtered candidates produce the identical pair set).
    */
  val winnowContainOracle: Option[String] = Some(
    s"""WITH $winnowFpCtes,
      |bd AS (
      |  SELECT i.doc_a AS doc_contained, i.doc_b AS doc_container,
      |    CAST(i.n_common AS DOUBLE) / sa.n_fp AS containment
      |  FROM inter i JOIN sz sa ON i.doc_a = sa.doc_id
      |  UNION ALL
      |  SELECT i.doc_b, i.doc_a, CAST(i.n_common AS DOUBLE) / sb.n_fp
      |  FROM inter i JOIN sz sb ON i.doc_b = sb.doc_id)
      |SELECT doc_contained, doc_container, containment
      |FROM bd WHERE containment >= 0.3
      |ORDER BY doc_contained, doc_container""".stripMargin)

  def all: Seq[GraftQuery] = Seq(

    GraftQuery("text_token_stats",
      (s, d) => TextAnalysis.tokenStats(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH ${SearchQueries.tokCte}
           |SELECT doc_id, count(*) AS n_tokens, count(DISTINCT word) AS n_unique,
           |  CAST(sum(length(word)) AS DOUBLE) / count(*) AS avg_token_len,
           |  CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS ttr
           |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    GraftQuery("text_quality",
      (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH ${SearchQueries.tokCte},
           |f AS (
           |  SELECT doc_id, count(*) AS n_tokens,
           |    CAST(sum(CASE WHEN word IN $stopListSql THEN 1 ELSE 0 END) AS DOUBLE)
           |      / count(*) AS stopword_ratio,
           |    CAST(sum(CASE WHEN regexp_matches(word, '[0-9]') THEN 1 ELSE 0 END) AS DOUBLE)
           |      / count(*) AS digit_ratio,
           |    CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS ttr
           |  FROM tok GROUP BY doc_id)
           |SELECT doc_id, n_tokens, stopword_ratio, digit_ratio, ttr,
           |  least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * ttr * (1.0 - digit_ratio) AS quality
           |FROM f ORDER BY doc_id""".stripMargin)),

    // Exact top-20% quality gate: integer micro-unit score histogram →
    // descending-cumulative threshold q* = max{q : |{q' ≥ q}| ≥ ⌊0.2·n⌋},
    // ties at q* kept whole. The histogram window is score-cardinality-
    // bounded (constant), never corpus-scale — the scalable exact form of
    // "keep the best P %".
    GraftQuery("text_quality_topp",
      (s, d) => TextAnalysis.qualityTopP(Tables.documents(s, d), 0.2)
        .orderBy("doc_id"),
      Some(
        s"""WITH ${SearchQueries.tokCte},
           |f AS (
           |  SELECT doc_id, count(*) AS n_tokens,
           |    CAST(sum(CASE WHEN regexp_matches(word, '[0-9]') THEN 1 ELSE 0 END) AS DOUBLE)
           |      / count(*) AS digit_ratio,
           |    CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS ttr
           |  FROM tok GROUP BY doc_id),
           |s AS (
           |  SELECT doc_id,
           |    CAST(floor(least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * ttr
           |      * (1.0 - digit_ratio) * 1000000.0 + 0.5) AS BIGINT) AS q_micro
           |  FROM f),
           |h AS (SELECT q_micro, count(*) AS c FROM s GROUP BY q_micro),
           |cm AS (SELECT q_micro, sum(c) OVER (ORDER BY q_micro DESC) AS cum FROM h),
           |t AS (
           |  SELECT max(q_micro) AS q_star
           |  FROM cm, (SELECT count(*) AS n FROM s) tot
           |  WHERE cum >= floor(0.2 * n + 1e-9))
           |SELECT doc_id, q_micro FROM s, t
           |WHERE q_micro >= q_star ORDER BY doc_id""".stripMargin)),

    GraftQuery("text_langid",
      (s, d) => TextAnalysis.langId(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH ${SearchQueries.tokCte},
           |r AS (
           |  SELECT doc_id,
           |    CAST(sum(CASE WHEN word IN $stopListSql THEN 1 ELSE 0 END) AS DOUBLE)
           |      / count(*) AS stopword_ratio
           |  FROM tok GROUP BY doc_id)
           |SELECT r.doc_id, d.lang,
           |  CASE WHEN r.stopword_ratio >= 0.02 THEN 'en' ELSE 'und' END AS lang_pred,
           |  r.stopword_ratio,
           |  (CASE WHEN r.stopword_ratio >= 0.02 THEN 'en' ELSE 'und' END) = d.lang AS is_match
           |FROM r JOIN documents d ON r.doc_id = d.doc_id
           |ORDER BY r.doc_id""".stripMargin)),

    // Confusion matrix of the langid heuristic against the table's true
    // labels, with per-cell doc counts — the evaluation card any
    // classifier stage publishes (the heuristic is honest here: the
    // synthetic corpus shares its vocabulary across langs, so the card
    // QUANTIFIES how much the stopword signal can and cannot see).
    GraftQuery("text_langid_eval",
      (s, d) => {
        import org.apache.spark.sql.functions._
        TextAnalysis.langId(Tables.documents(s, d))
          .groupBy("lang", "lang_pred")
          .agg(count(lit(1)).as("n"),
            sum(when(col("is_match"), 1L).otherwise(0L)).as("n_match"))
          .orderBy("lang", "lang_pred")
      },
      Some(
        s"""WITH ${SearchQueries.tokCte},
           |r AS (
           |  SELECT doc_id,
           |    CAST(sum(CASE WHEN word IN $stopListSql THEN 1 ELSE 0 END) AS DOUBLE)
           |      / count(*) AS stopword_ratio
           |  FROM tok GROUP BY doc_id),
           |p AS (
           |  SELECT d.lang,
           |    CASE WHEN r.stopword_ratio >= 0.02 THEN 'en' ELSE 'und' END AS lang_pred
           |  FROM r JOIN documents d ON r.doc_id = d.doc_id)
           |SELECT lang, lang_pred, count(*) AS n,
           |  CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_match
           |FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin)),

    GraftQuery("text_fingerprint",
      (s, d) => TextAnalysis.fingerprintFrom(DedupQueries.persistedShingles(s, d))
        .orderBy("doc_id"),
      Some(
        s"""WITH ${DedupQueries.shingleCte}, ${DedupQueries.shkCte}
           |SELECT doc_id, min(shk) AS fingerprint
           |FROM shk GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Per-doc shingle-novelty profile: fraction of each doc's distinct
    // shingles first seen in an EARLIER doc — the boilerplate/mirror
    // signal no pair-dedup bar catches. Gram-keyed min + equi-join,
    // corpus-linear.
    GraftQuery("text_novelty_profile",
      (s, d) => {
        TextAnalysis.shingleNovelty(
          graft.operators.Dedup.shingleKeys(DedupQueries.persistedShingles(s, d)))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH ${DedupQueries.shingleCte}, ${DedupQueries.shkCte},
           |f AS (SELECT shk, min(doc_id) AS first_doc FROM shk GROUP BY shk)
           |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
           |  CAST(sum(CASE WHEN f.first_doc < s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
           |  CAST(sum(CASE WHEN f.first_doc < s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
           |    / count(*) AS seen_frac
           |FROM shk s JOIN f USING (shk)
           |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // Winnowing fingerprints (Schleimer et al. 2003 / MOSS): every window
    // of 4 consecutive 3-gram hashes selects its min (ties rightmost —
    // the standard winnowing tie-break, carried through the sliding min as a
    // packed (hash, ¬pos) DECIMAL so no second pass is needed). Any
    // shared 6-token run between two docs is guaranteed a shared
    // fingerprint; ~2/(w+1) of grams survive.
    GraftQuery("text_winnowing",
      // Spread: the single-split docs scan serialized the gram hashing
      // projection ahead of the per-doc window (see operators.Spread)
      (s, d) => TextAnalysis.winnowing(
        graft.operators.Spread(Tables.documents(s, d)))
        .orderBy("doc_id", "fp"),
      Some(
        """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM documents),
          |g AS (
          |  SELECT doc_id, i - 1 AS pos, len(arr) - 2 AS n_grams,
          |    CAST(CAST(CONCAT('0x', substr(md5(arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]), 1, 15)) AS BIGINT) AS HUGEINT)
          |      * 1048576 + (1048575 - (i - 1)) AS ck
          |  FROM d, unnest(range(1, len(arr) - 1)) t(i)
          |  WHERE len(arr) >= 6),
          |m AS (
          |  SELECT doc_id, pos, n_grams,
          |    min(ck) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
          |  FROM g)
          |SELECT DISTINCT doc_id, CAST(m // 1048576 AS BIGINT) AS fp
          |FROM m WHERE pos <= n_grams - 4
          |ORDER BY doc_id, fp""".stripMargin)),

    // Winnowing-based copy detection (what MOSS actually does with the
    // fingerprints): directed containment over each doc's fingerprint SET
    // via the same inverted-index equi-join + both-direction union as the
    // shingle containment tier — |A∩B| / |A| ≥ 0.3 on winnowed prints,
    // so the candidate space is the ~2/(w+1)-sampled sketch, not the
    // full gram multiset.
    GraftQuery("dedup_winnow",
      (s, d) => {
        // the fingerprint sketch is a pure corpus function consumed three
        // times by the containment join (sizes + both sides) — persist it
        // once per SF dir like shingles/signatures (in-plan it re-ran the
        // doc-windowed pass per consumer: measured 2.9 → 1.6 s checkpointed
        // → ~0.4 s persisted at sf0.1). Bucket health at sf0.1: max 24 /
        // mean 5.4 docs per fingerprint over 18 788 buckets —
        // inverted-index-shaped, not n².
        val fp = Persisted(s, d, "winnow", "documents.parquet") {
          TextAnalysis.winnowing(Tables.documents(s, d))
            .withColumnRenamed("fp", "shk")
        }
        graft.operators.Dedup.containmentPairsFromKeys(fp, 0.3)
          .orderBy("doc_contained", "doc_container")
      },
      winnowContainOracle),

    // The SCALE path for winnowing copy detection: prefix-filtered
    // candidates (rarest ceil((1−t)·|A|)+1 fingerprints per doc — the
    // same asymmetric-prefix argument as the shingle tier). Identical
    // output, shared oracle. On the zipf corpus at 50k docs, where one
    // head fingerprint reaches a 13 000-doc bucket, this is 3.0 s vs the
    // plain join's 50.1 s (BASELINE.md); on the low-collision documents
    // fixture the plain form's smaller constant wins — the same measured
    // crossover as dedup_containment vs _prefix.
    GraftQuery("dedup_winnow_prefix",
      (s, d) => {
        val fp = Persisted(s, d, "winnow", "documents.parquet") {
          TextAnalysis.winnowing(Tables.documents(s, d))
            .withColumnRenamed("fp", "shk")
        }
        graft.operators.Dedup.containmentPairsPrefixFromKeys(fp, 0.3)
          .orderBy("doc_contained", "doc_container")
      },
      winnowContainOracle),

    // Winnowing copy detection on the NATURAL fixture (round 13): the
    // behavior that makes containment the right tool on real text —
    // boilerplate-wrapped variants and a full-quote embedding sit at
    // J≈0.68 (under the symmetric Jaccard bar, correctly skipped by
    // dedup_natural_jaccard) but near-total DIRECTED containment of the
    // base, and winnowed fingerprints surface every planted direction
    // while no stopword-only pair crosses 0.3. Oracle: the standard
    // winnow chain over the shadowed fixture CTE.
    GraftQuery("dedup_natural_winnow",
      (s, d) => graft.operators.Dedup.containmentPairsFromKeys(
          TextAnalysis.winnowing(graft.sources.NaturalCorpus.docs(s))
            .withColumnRenamed("fp", "shk"), 0.3)
        .orderBy("doc_contained", "doc_container"),
      Some(
        s"""WITH ${graft.sources.NaturalCorpus.docsCte}, $winnowFpCtes,
           |bd AS (
           |  SELECT i.doc_a AS doc_contained, i.doc_b AS doc_container,
           |    CAST(i.n_common AS DOUBLE) / sa.n_fp AS containment
           |  FROM inter i JOIN sz sa ON i.doc_a = sa.doc_id
           |  UNION ALL
           |  SELECT i.doc_b, i.doc_a, CAST(i.n_common AS DOUBLE) / sb.n_fp
           |  FROM inter i JOIN sz sb ON i.doc_b = sb.doc_id)
           |SELECT doc_contained, doc_container, containment
           |FROM bd WHERE containment >= 0.3
           |ORDER BY doc_contained, doc_container""".stripMargin)),

    // Winnowing containment at CORPUS scale, auto-routed (round 15):
    // the 2,500-doc natural corpus through the same fingerprint +
    // directed-containment chain, with Dedup.bucketProfile picking the
    // tier from the real fingerprint distribution of recombined prose
    // (decision spec-pinned in NaturalCorpusSpec; profile numbers in
    // BASELINE.md). Output includes the planted boilerplate wraps and
    // quote embeddings PLUS the organic fragment-containment pairs a
    // real crawl shows — all hash-gated.
    GraftQuery("dedup_natural2_winnow",
      (s, d) => graft.operators.Dedup.containmentPairsAutoFromKeys(
          persistedNaturalWinnow(s), 0.3)
        .orderBy("doc_contained", "doc_container"),
      Some(
        s"""WITH ${graft.sources.NaturalCorpus.corpusCte}, $winnowFpCtes,
           |bd AS (
           |  SELECT i.doc_a AS doc_contained, i.doc_b AS doc_container,
           |    CAST(i.n_common AS DOUBLE) / sa.n_fp AS containment
           |  FROM inter i JOIN sz sa ON i.doc_a = sa.doc_id
           |  UNION ALL
           |  SELECT i.doc_b, i.doc_a, CAST(i.n_common AS DOUBLE) / sb.n_fp
           |  FROM inter i JOIN sz sb ON i.doc_b = sb.doc_id)
           |SELECT doc_contained, doc_container, containment
           |FROM bd WHERE containment >= 0.3
           |ORDER BY doc_contained, doc_container""".stripMargin)),

    // AUTO-ROUTED winnowing copy detection (round 13 — SURVEY §2.9's
    // "a human picks the tier" limitation closed): Dedup.bucketProfile
    // probes the persisted fingerprint table (two bounded aggregates,
    // ≪ the join they route) and picks plain vs prefix on the
    // hottest bucket's candidate-mass share (headCandShare — round 15
    // replaced the head-doc-fraction signal after the natural corpus
    // exposed a mis-route). On THIS fixture the probe reads a sub-0.01
    // head candidate share and picks the PLAIN tier (the
    // measured smaller-constant winner here); on the zipf profile the
    // same probe picks prefix (dedup_zipf_winnow_auto). Decision
    // spec-pinned both ways in DedupSpec; output shares the plain
    // form's oracle because the tiers are output-identical.
    GraftQuery("dedup_winnow_auto",
      (s, d) => {
        val fp = Persisted(s, d, "winnow", "documents.parquet") {
          TextAnalysis.winnowing(Tables.documents(s, d))
            .withColumnRenamed("fp", "shk")
        }
        graft.operators.Dedup.containmentPairsAutoFromKeys(fp, 0.3)
          .orderBy("doc_contained", "doc_container")
      },
      winnowContainOracle),

    // Canonical selection from winnow copy detection: connected
    // components over the UNDIRECTED pair graph (either direction's
    // containment ≥ 0.3 links two docs), each doc mapped to its
    // component's min doc_id — the actionable keep list of a
    // copy-detection run, same recursive-closure oracle as dedup_clusters.
    GraftQuery("dedup_winnow_keep",
      (s, d) => {
        import org.apache.spark.sql.functions.{col, greatest, least}
        val fp = Persisted(s, d, "winnow", "documents.parquet") {
          TextAnalysis.winnowing(Tables.documents(s, d))
            .withColumnRenamed("fp", "shk")
        }
        val pairs = graft.operators.Dedup.containmentPairsFromKeys(fp, 0.3)
          .select(least(col("doc_contained"), col("doc_container")).as("doc_a"),
            greatest(col("doc_contained"), col("doc_container")).as("doc_b"))
          .distinct()
        graft.operators.Dedup.clusters(pairs).orderBy("doc_id")
      },
      Some(
        s"""WITH RECURSIVE $winnowFpCtes,
           |p AS (
           |  SELECT i.doc_a, i.doc_b
           |  FROM inter i JOIN sz sa ON i.doc_a = sa.doc_id
           |                JOIN sz sb ON i.doc_b = sb.doc_id
           |  WHERE CAST(i.n_common AS DOUBLE) / sa.n_fp >= 0.3
           |     OR CAST(i.n_common AS DOUBLE) / sb.n_fp >= 0.3),
           |${DedupQueries.ccCtes}
           |SELECT node AS doc_id, min(label) AS keep_id
           |FROM lbl GROUP BY node ORDER BY doc_id""".stripMargin)),

    GraftQuery("text_token_counts",
      (s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  len(list_filter(regexp_split_to_array(text, '\s+'), w -> length(w) > 0))::BIGINT AS ws_tokens,
          |  len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> length(w) > 0))::BIGINT AS alnum_tokens
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Deterministic ~1/8 hash sample: md5(doc_id) hex-prefix threshold.
    // Content-hash sampling (not rand()) is the reproducible way to cut a
    // training corpus — the same rows survive on any cluster, any run.
    GraftQuery("text_sample_hash",
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.documents(s, d)
          .filter(substring(md5(col("doc_id").cast("string")), 1, 4) < "2000")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, lang, source FROM documents
          |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '2000'
          |ORDER BY doc_id""".stripMargin)),

    // Weighted sample without replacement (Efraimidis–Spirakis priority
    // race, weight = n_chars): the deterministic way to draw a token-
    // weighted subcorpus — one row-local key projection, then top-k BY
    // KEY (TakeOrderedAndProject: per-partition heaps, no global sort,
    // no RNG). The md5-slice uniform and the stab(6)'d −ln(u)/w key are
    // re-derived identically in SQL, so even the sampled SET is
    // hash-gated, not just its size.
    GraftQuery("text_sample_weighted",
      (s, d) => graft.operators.Curation.sampleWeighted(
        Tables.documents(s, d), org.apache.spark.sql.functions.col("n_chars"), 64),
      Some(
        """WITH s AS (
          |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
          |    floor((-ln(u) / n_chars) * 1000000.0 + 0.5) / 1000000.0 AS skey
          |  FROM (
          |    SELECT doc_id, n_chars,
          |      CAST(CONCAT('0x', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
          |        / 281474976710656.0 AS u
          |    FROM documents WHERE n_chars > 0))
          |SELECT doc_id, w, skey FROM s ORDER BY skey, doc_id LIMIT 64""".stripMargin)),

    // Stratified quota sample: 20 docs per language, picked by hash order
    // (deterministic shuffle) — WindowGroupLimit prunes per partition.
    GraftQuery("text_sample_stratified",
      (s, d) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables.documents(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 20)
          .select("lang", "rn", "doc_id")
          .orderBy("lang", "rn")
      },
      Some(
        """SELECT lang, rn, doc_id FROM (
          |  SELECT lang, doc_id,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          |  FROM documents)
          |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin)),

    // The cleaning pass a training pipeline runs first: length floor +
    // quality floor + language gate, all from one hash aggregate.
    // Oracle tail shared with text_extract_clean via cleanGateTailSql —
    // the gate thresholds/formula live in ONE place per engine.
    GraftQuery("text_clean_corpus",
      (s, d) => TextAnalysis.cleanCorpus(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH ${SearchQueries.tokCte},
           |$cleanGateTailSql""".stripMargin)),

    // PII redaction, oracle-checked end to end: both engines append the
    // SAME deterministic email/phone/IP to every even doc (the corpus
    // itself contains no digits), scrub with the identical RE2∩Java-safe
    // patterns, and must produce byte-identical redacted text and match
    // counts. Odd docs prove pass-through.
    GraftQuery("text_pii_scrub",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val pii = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1 (555) 010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))
        val aug = when(col("doc_id") % 2 === 0, pii).otherwise(col("text"))
        Tables.documents(s, d)
          .select(col("doc_id"), aug.as("aug"))
          .select(col("doc_id"),
            regexp_count(col("aug"), lit(TextAnalysis.EmailRe)).cast("long").as("n_emails"),
            regexp_count(col("aug"), lit(TextAnalysis.Ipv4Re)).cast("long").as("n_ips"),
            TextAnalysis.scrubPii(col("aug")).as("scrubbed"))
          .orderBy("doc_id")
      },
      Some(
        """WITH aug AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 2 = 0
          |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
          |        || '@example.com or +1 (555) 010-'
          |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          |        || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
          |      ELSE text END AS aug
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(aug, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
          |    '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
          |FROM aug ORDER BY doc_id""".stripMargin)),

    // Corpus bigram frequency table (n-gram LM statistics): top 50 by
    // count. Reuses the shingle machinery at n=2; counts are over all
    // occurrences (not per-doc distinct).
    GraftQuery("text_bigrams",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val arr = graft.functions.TextOps.splitWords(
          graft.functions.TextOps.normalize(col("text")))
        val bigram = transform(
          sequence(lit(0), size(col("arr")) - 2),
          i => concat_ws(" ", element_at(col("arr"), i + 1), element_at(col("arr"), i + 2)))
        Tables.documents(s, d)
          .select(arr.as("arr")).filter(size(col("arr")) >= 2)
          .select(explode(bigram).as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("bigram")).limit(50)
      },
      Some(
        """WITH d AS (SELECT regexp_split_to_array(lower(text), '\s+') AS arr FROM documents),
          |b AS (
          |  SELECT arr[i] || ' ' || arr[i+1] AS bigram
          |  FROM d, unnest(range(1, len(arr))) t(i)
          |  WHERE len(arr) >= 2)
          |SELECT bigram, count(*) AS n FROM b
          |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin)),

    // Per-doc bigram-LM negative log-likelihood (add-one smoothing, model
    // trained on the same corpus in-plan) — the perplexity-style quality
    // filter signal. ln is stab(6)'d per occurrence, per-doc sums ride the
    // exact decimal path, so the oracle hash-matches.
    GraftQuery("text_perplexity",
      (s, d) => graft.operators.TextAnalysis.bigramNllFrom(
        graft.operators.TextAnalysis.bigramStream(Tables.documents(s, d)),
        persistedBigramLm(s, d))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM documents),
          |b AS (
          |  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
          |  FROM d, unnest(range(1, len(arr))) t(i)
          |  WHERE len(arr) >= 2),
          |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
          |cf AS (SELECT w1, count(*) AS cf FROM b GROUP BY 1),
          |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM d, unnest(arr) u(w)),
          |nll AS (
          |  SELECT b.doc_id,
          |    floor(-ln((cb.cb + 1) / (cf.cf + (SELECT v FROM v)))*1000000.0+0.5)/1000000.0 AS nll
          |  FROM b JOIN cb USING (w1, w2) JOIN cf USING (w1))
          |SELECT doc_id, count(*) AS n_bigrams,
          |  floor((CAST(sum(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / count(*))*1000000.0+0.5)/1000000.0 AS avg_nll
          |FROM nll GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Interpolated Kneser–Ney bigram perplexity (D = 0.75, the Chen &
    // Goodman fixed-discount form) — the production smoothing next to
    // the add-one scorer; continuation/predecessor TYPE counts make
    // one-context boilerplate stop looking probable everywhere.
    GraftQuery("text_perplexity_kn",
      (s, d) => graft.operators.TextAnalysis
        .bigramNllKn(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM documents),
          |b AS (
          |  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
          |  FROM d, unnest(range(1, len(arr))) t(i)
          |  WHERE len(arr) >= 2),
          |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
          |cf AS (SELECT w1, count(*) AS cf FROM b GROUP BY 1),
          |n1f AS (SELECT w1, count(*) AS n1f FROM cb GROUP BY 1),
          |n1p AS (SELECT w2, count(*) AS n1p FROM cb GROUP BY 1),
          |nb AS (SELECT CAST(count(*) AS DOUBLE) AS nbig FROM cb),
          |nll AS (
          |  SELECT b.doc_id,
          |    floor(-ln(
          |      greatest(CAST(cb.cb AS DOUBLE) - 0.75, 0.0) / CAST(cf.cf AS DOUBLE)
          |      + ((0.75 * CAST(n1f.n1f AS DOUBLE)) / CAST(cf.cf AS DOUBLE))
          |        * (CAST(n1p.n1p AS DOUBLE) / (SELECT nbig FROM nb))
          |    )*1000000.0+0.5)/1000000.0 AS nll
          |  FROM b JOIN cb USING (w1, w2) JOIN cf USING (w1)
          |         JOIN n1f USING (w1) JOIN n1p USING (w2))
          |SELECT doc_id, count(*) AS n_bigrams,
          |  floor((CAST(sum(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / count(*))*1000000.0+0.5)/1000000.0 AS avg_nll
          |FROM nll GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Repeated-3-gram ratio per doc — the repetition quality signal
    // curation rules threshold on (boilerplate / stuffing / degenerate
    // text repeats n-grams).
    GraftQuery("text_repetition",
      (s, d) => TextAnalysis.repetition(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM documents),
          |g AS (
          |  SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS g
          |  FROM d, unnest(range(1, len(arr) - 1)) t(i)
          |  WHERE len(arr) >= 3)
          |SELECT doc_id, count(*) AS n_ngrams, count(DISTINCT g) AS n_distinct,
          |  1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*) AS rep_ratio
          |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Cross-document duplicate spans (Lee et al. 2021 exact-substring
    // dedup at 8-gram granularity): every occurrence of a corpus-repeated
    // 8-token window, keep=false on all but the globally-first — the
    // span-removal list. Skew-safe by construction (hash agg +
    // min(struct), no per-gram window); the oracle's window form is
    // value-identical (rn=1 ≡ min (doc_id, pos)). The aggregate/join
    // currency is xxhash64(gram) — re-derived in SQL by XxhashSql, like
    // the fast dedup tier.
    GraftQuery("text_dup_spans",
      // Spread: the 8-gram posexplode + xxhash projection ran in ONE scan
      // task (measured 3.0 s wall ~= serial taskTime; see operators.Spread)
      (s, d) => TextAnalysis.duplicateSpans(
        graft.operators.Spread(Tables.documents(s, d)), 8)
        .orderBy("doc_id", "pos"),
      Some {
        val gram = (0 until 8).map(k => if (k == 0) "arr[i]" else s"arr[i+$k]")
          .mkString(" || ' ' || ")
        s"""WITH d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr FROM documents),
           |g0 AS (
           |  SELECT doc_id, CAST(i AS BIGINT) AS pos, $gram AS gram
           |  FROM d, unnest(range(1, len(arr) - 6)) t(i)
           |  WHERE len(arr) >= 8),
           |gx AS (SELECT doc_id, pos, gram, hex(encode(gram)) AS hx,
           |  octet_length(encode(gram)) AS ln, CAST(42 AS UBIGINT) AS useed FROM g0),
           |${XxhashSql.strChainCtes("y", "gx", Seq("doc_id", "pos", "gram"))},
           |g AS (SELECT doc_id, pos, gram, xh AS gk FROM yb9),
           |s AS (SELECT gk, count(*) AS occ FROM g GROUP BY gk),
           |f AS (SELECT gk, doc_id, pos, gram,
           |        row_number() OVER (PARTITION BY gk ORDER BY doc_id, pos) AS rn FROM g)
           |SELECT f.doc_id, f.pos, f.gram, (f.rn = 1) AS keep
           |FROM f JOIN s USING (gk) WHERE s.occ > 1
           |ORDER BY doc_id, pos""".stripMargin
      }),

    // The cut step applied: corpus in, span-cleaned corpus out (tokens
    // covered by non-kept duplicate spans removed, survivors
    // reassembled). The oracle re-derives the span list through the
    // same XxhashSql chain, expands drops n-wide, anti-joins, and
    // string_aggs in position order.
    GraftQuery("text_dup_cut",
      (s, d) => {
        val docs = graft.operators.Spread(Tables.documents(s, d))
        TextAnalysis.cutSpans(docs, TextAnalysis.duplicateSpans(docs, 8), 8)
          .orderBy("doc_id")
      },
      Some {
        val gram = (0 until 8).map(k => if (k == 0) "arr[i]" else s"arr[i+$k]")
          .mkString(" || ' ' || ")
        s"""WITH d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr FROM documents),
           |g0 AS (
           |  SELECT doc_id, CAST(i AS BIGINT) AS pos, $gram AS gram
           |  FROM d, unnest(range(1, len(arr) - 6)) t(i)
           |  WHERE len(arr) >= 8),
           |gx AS (SELECT doc_id, pos, gram, hex(encode(gram)) AS hx,
           |  octet_length(encode(gram)) AS ln, CAST(42 AS UBIGINT) AS useed FROM g0),
           |${XxhashSql.strChainCtes("y", "gx", Seq("doc_id", "pos", "gram"))},
           |g AS (SELECT doc_id, pos, xh AS gk FROM yb9),
           |s AS (SELECT gk, count(*) AS occ FROM g GROUP BY gk),
           |f AS (SELECT gk, doc_id, pos,
           |        row_number() OVER (PARTITION BY gk ORDER BY doc_id, pos) AS rn FROM g),
           |drops AS (
           |  SELECT DISTINCT f.doc_id, f.pos + k.k AS p
           |  FROM f JOIN s USING (gk), range(0, 8) k(k)
           |  WHERE s.occ > 1 AND f.rn > 1),
           |toks AS (
           |  SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_tokens,
           |    CAST(i AS BIGINT) AS p, arr[i] AS tok
           |  FROM d, unnest(range(1, len(arr) + 1)) t(i)),
           |kept AS (
           |  SELECT t.* FROM toks t LEFT JOIN drops dr
           |    ON t.doc_id = dr.doc_id AND t.p = dr.p
           |  WHERE dr.p IS NULL)
           |SELECT t.doc_id AS doc_id,
           |  coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text,
           |  t.n_tokens AS n_tokens, t.n_tokens - count(k.p) AS n_dropped
           |FROM (SELECT DISTINCT doc_id, n_tokens FROM toks) t
           |  LEFT JOIN kept k ON k.doc_id = t.doc_id
           |GROUP BY t.doc_id, t.n_tokens ORDER BY t.doc_id""".stripMargin
      }),

    // RAG-style sliding-window chunking (64-token windows, stride 48 →
    // 16-token overlap): the retrieval-index prep step. Row-local
    // explode, no shuffle — see TextAnalysis.chunks. The oracle derives
    // the identical window starts from the sliding-window count formula
    // and slices the same token arrays.
    GraftQuery("text_chunk",
      (s, d) => TextAnalysis.chunks(Tables.documents(s, d), 64, 48)
        .orderBy("doc_id", "chunk_id"),
      Some(
        """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM documents),
          |c AS (SELECT doc_id, arr, len(arr) AS n,
          |        CASE WHEN len(arr) <= 64 THEN 1
          |             ELSE CAST(floor((len(arr) - 64 + 47) / 48.0) AS BIGINT) + 1
          |        END AS nc
          |      FROM d WHERE len(arr) >= 1)
          |SELECT doc_id, i AS chunk_id, i*48 AS start_tok,
          |  least(64, n - i*48) AS n_tok,
          |  array_to_string(arr[CAST(i*48+1 AS INT):CAST(i*48+64 AS INT)], ' ') AS chunk
          |FROM c, unnest(range(0, nc)) t(i)
          |ORDER BY doc_id, chunk_id""".stripMargin)),

    // Benchmark decontamination: flag training docs sharing any 3-shingle
    // with the benchmark set (docs 0-9 stand in for an eval suite — the
    // real pipeline swaps in its benchmark corpus). The benchmark shingle
    // set is eval-sized, so it broadcasts; the corpus side is one scan of
    // the shared persisted shingle table.
    GraftQuery("text_decontaminate",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val sh = DedupQueries.persistedShingles(s, d)
        val bench = sh.filter(col("doc_id") < 10).select("shingle").distinct()
        sh.filter(col("doc_id") >= 10)
          .join(broadcast(bench), "shingle")
          .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH ${DedupQueries.shingleCte},
           |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
           |SELECT doc_id, count(*) AS n_contaminated
           |FROM sh JOIN bench USING (shingle)
           |WHERE doc_id >= 10
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // The flagship composite: the end-to-end curation keep list — clean
    // gates + repetition + perplexity + decontamination + near-dup dedup
    // in ONE declarative plan (graft.operators.Curation). The oracle
    // composes the same CTEs the per-signal oracles already pin, so the
    // whole pipeline decision is hash-gated, not just its parts.
    GraftQuery("text_curate",
      (s, d) => graft.operators.Curation.curate(
          Tables.documents(s, d),
          DedupQueries.persistedShingles(s, d),
          persistedBigramLm(s, d),
          DedupQueries.lshKeepPairs(s, d))
        .orderBy("doc_id"),
      Some(curateOracle)),

    // The composite widened to BOTH decontamination modalities: the
    // n-gram gate inside curate AND the embedding-space gate
    // (text_decontaminate_semantic) anti-joined on top — a paraphrased
    // eval answer passes shingles but not cosine, so a production
    // pipeline runs both. Oracle = the curate composition plus the
    // semantic CTE under the same hash gate.
    GraftQuery("text_curate_full",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val semContam = graft.operators.Similarity
          .evalContamination(Tables.embeddings(s, d), 10, 0.35)
          .select(col("vec_id").as("doc_id"))
        graft.operators.Curation.curate(
            Tables.documents(s, d),
            DedupQueries.persistedShingles(s, d),
            persistedBigramLm(s, d),
            DedupQueries.lshKeepPairs(s, d))
          .join(semContam, Seq("doc_id"), "left_anti")
          .orderBy("doc_id")
      },
      Some {
        val cos = SimilarityQueries.cosSql("a", "b")
        val semCtes =
          s"""semv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |semn AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM semv),
             |semev AS (SELECT e, nrm FROM semn WHERE vec_id < 10),
             |semc AS (
             |  SELECT a.vec_id AS doc_id FROM semn a, semev b
             |  WHERE a.vec_id >= 10
             |  GROUP BY a.vec_id
             |  HAVING max($cos) >= 0.35),""".stripMargin
        // Anchor guard (round-14 advice): this composes by string surgery
        // on curateOracle, and a harmless rewording there would turn a
        // .replace into a silent no-op — yielding an oracle MISSING the
        // semantic anti-join that still parses and runs. Fail loudly at
        // registry construction instead.
        require(curateOracle.contains("bench AS (") &&
          curateOracle.contains("ORDER BY q.doc_id"),
          "text_curate_full: curateOracle lost a splice anchor " +
            "('bench AS (' / 'ORDER BY q.doc_id') — update the surgery")
        curateOracle
          .replace("bench AS (", semCtes + "\nbench AS (")
          .replace("ORDER BY q.doc_id",
            "  AND q.doc_id NOT IN (SELECT doc_id FROM semc)\nORDER BY q.doc_id")
      }),

    // Weighted source mixing — the post-curation data-mixing step:
    // deterministic per-source quotas drawn in content-hash order (same
    // reproducible-shuffle discipline as text_sample_hash; one window
    // partitioned by source, no global sort). 50/30/20 over three
    // sources at a 40-doc budget → 20/12/8 kept.
    GraftQuery("text_mix",
      (s, d) => graft.operators.Curation.mixBySource(Tables.documents(s, d),
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), 40)
        .orderBy("source", "rk"),
      Some(
        """WITH q(source, quota) AS (VALUES ('src0', 20), ('src1', 12), ('src2', 8)),
          |r AS (
          |  SELECT d.doc_id, d.source, q.quota,
          |    row_number() OVER (PARTITION BY d.source
          |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
          |  FROM documents d JOIN q USING (source))
          |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM r
          |WHERE rk <= quota ORDER BY source, rk""".stripMargin)),

    // Temperature-smoothed mixing (α = 0.7, the multilingual-LM
    // exponential-smoothing default): quotas ∝ count^α computed IN-PLAN
    // from the observed source sizes — small sources up-weighted
    // relative to natural share. The quota arithmetic itself is
    // hash-gated: pow through stab(6), the normalizer an exact decimal
    // sum, the survivor sets the same hash-order prefixes as text_mix.
    GraftQuery("text_mix_temperature",
      (s, d) => graft.operators.Curation.mixByTemperature(
          Tables.documents(s, d), 0.7, 2000)
        .orderBy("source", "rk"),
      Some(
        """WITH cnt AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
          |pw AS (SELECT source,
          |  floor(pow(CAST(c AS DOUBLE), 0.7) * 1000000.0 + 0.5) / 1000000.0 AS pw FROM cnt),
          |tw AS (SELECT CAST(sum(CAST(pw AS DECIMAL(18,6))) AS DOUBLE) AS tw FROM pw),
          |q AS (SELECT source,
          |  CAST(floor(pw / (SELECT tw FROM tw) * 2000 + 0.000000001) AS BIGINT) AS quota
          |  FROM pw),
          |r AS (
          |  SELECT d.doc_id, d.source, q.quota,
          |    row_number() OVER (PARTITION BY d.source
          |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
          |  FROM documents d JOIN q USING (source))
          |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM r
          |WHERE rk <= quota ORDER BY source, rk""".stripMargin)),

    // Per-source quality cap (top-15 by n_chars per source): the
    // per-domain cap every crawl pipeline applies. Spark runs the
    // skew-safe two-phase form (rank within (source, hash-bucket), then
    // rank the bounded survivors); the oracle is the plain one-window
    // form — identical output by containment, hash-gated.
    GraftQuery("text_source_cap",
      (s, d) => graft.operators.Curation.capBySource(Tables.documents(s, d), 15)
        .orderBy("source", "rk"),
      Some(
        """WITH r AS (
          |  SELECT doc_id, source,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY n_chars DESC, doc_id) AS rk
          |  FROM documents)
          |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM r
          |WHERE rk <= 15 ORDER BY source, rk""".stripMargin)),

    // Deterministic per-source downsampling (src0 kept at 25 %, src1 at
    // 50 %, everything else whole): salted 16-bit content-hash
    // thresholds, row-local, no RNG — reproducible on any cluster.
    // (Distinct from text_sample_stratified above: that takes a fixed
    // QUOTA per language in hash order; this keeps a RATE per source
    // with no window at all.)
    GraftQuery("text_downsample_sources",
      (s, d) => graft.operators.Curation.sampleStratified(Tables.documents(s, d),
          Map("src0" -> 0.25, "src1" -> 0.5))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, source FROM (
          |  SELECT doc_id, source,
          |    CAST(CONCAT('0x', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS h
          |  FROM documents)
          |WHERE h < CASE source WHEN 'src0' THEN 16384 WHEN 'src1' THEN 32768 ELSE 65536 END
          |ORDER BY doc_id""".stripMargin)),

    // Token-budget sequence packing (concat-and-chunk): docs in
    // content-hash order, cut at a 500-token budget; a doc belongs to
    // the chunk its first token lands in. The Spark side computes the
    // global exclusive prefix sum DISTRIBUTED (16 hash-prefix buckets +
    // a 16-row offset window); the oracle is the plain global window —
    // identical arithmetic, hash-gated.
    GraftQuery("text_pack",
      (s, d) => graft.operators.Curation.packSequences(Tables.documents(s, d), 500L)
        .orderBy("seq_id"),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> length(w) > 0))::BIGINT AS n_tok,
          |    md5(CAST(doc_id AS VARCHAR)) AS h
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, n_tok,
          |    COALESCE(sum(n_tok) OVER (ORDER BY h, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
          |  FROM t)
          |SELECT CAST(start // 500 AS BIGINT) AS seq_id,
          |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
          |FROM c GROUP BY 1 ORDER BY seq_id""".stripMargin)),

    // Training-shard assignment — the loader-facing LAST step: the packed
    // sequence stream cut into size-bounded shards (8 × 500-token
    // sequences per shard) in the same content-hash order. Pure
    // arithmetic over the pack layout (shard_id = seq_id div 8), so the
    // oracle extends the text_pack window with two integer divisions.
    GraftQuery("text_shards",
      (s, d) => graft.operators.Curation.shardAssignmentsFrom(
          TextAnalysis.tokenCounts(Tables.documents(s, d))
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("alnum_tokens").as("n_tok")),
          500L, 8L).orderBy("doc_id"),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> length(w) > 0))::BIGINT AS n_tok,
          |    md5(CAST(doc_id AS VARCHAR)) AS h
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, n_tok,
          |    COALESCE(sum(n_tok) OVER (ORDER BY h, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
          |  FROM t)
          |SELECT doc_id, n_tok, CAST(start AS BIGINT) AS start,
          |  CAST(start // 500 AS BIGINT) AS seq_id,
          |  CAST((start // 500) // 8 AS BIGINT) AS shard_id
          |FROM c ORDER BY doc_id""".stripMargin)),

    // The shard MANIFEST a data loader consumes: per shard, distinct
    // sequences, docs, real tokens, and the fixed loader budget
    // (8·500 = 4000). One hash-agg over the assignment frame.
    GraftQuery("text_shard_manifest",
      (s, d) => graft.operators.Curation.shardManifestFrom(
          TextAnalysis.tokenCounts(Tables.documents(s, d))
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("alnum_tokens").as("n_tok")),
          500L, 8L).orderBy("shard_id"),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> length(w) > 0))::BIGINT AS n_tok,
          |    md5(CAST(doc_id AS VARCHAR)) AS h
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, n_tok,
          |    COALESCE(sum(n_tok) OVER (ORDER BY h, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
          |  FROM t)
          |SELECT CAST((start // 500) // 8 AS BIGINT) AS shard_id,
          |  CAST(count(DISTINCT start // 500) AS BIGINT) AS n_seqs,
          |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
          |  CAST(4000 AS BIGINT) AS token_budget
          |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin)),

    // Best-fit sequence packing (round 16 — the padding-free alternative
    // to text_pack's concat-and-chunk; Krell et al. 2021's histogram
    // framing): token counts round UP to 20-token length classes,
    // classes pack first-fit-decreasing over a histogram-sized driver
    // schedule (CurationSpec pins it equal to naive per-item FFD), ranks
    // within class are content-hash order. The oracle re-runs the ENTIRE
    // FFD as a recursive CTE over the length classes — single-row list
    // state carrying the bin GROUPS (remaining capacity, count, first
    // index) and the placement segments — then maps every doc through
    // the same rank→bin arithmetic. A divergence in any fill step,
    // group split, or rank lands here.
    GraftQuery("text_pack_bestfit",
      (s, d) => graft.operators.Curation.packBestFit(
          graft.operators.TextAnalysis.tokenCounts(Tables.documents(s, d))
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("alnum_tokens").as("n_tok")), 500L)
        .orderBy("seq_id"),
      Some(s"WITH RECURSIVE $bestfitCtes\n" +
        """SELECT bin AS seq_id, count(*) AS n_docs,
          |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
          |  CAST(sum(cls) AS BIGINT) AS class_tokens,
          |  CAST(CASE WHEN sum(cls) <= 500 THEN 500 - sum(cls) ELSE 0 END AS BIGINT) AS slack
          |FROM allasg GROUP BY bin ORDER BY seq_id""".stripMargin)),

    // The padding-waste honesty card: the SAME corpus at the SAME
    // 500-token budget under both layouts. Concat pads only the final
    // chunk but SPLITS documents across boundaries; best-fit never
    // splits and pays per-bin slack + class round-up. pad_tokens =
    // loader slots − real tokens in BOTH rows, so the two layouts'
    // costs are directly comparable; split_docs counts the concat
    // boundary crossings best-fit eliminates.
    GraftQuery("text_pack_waste",
      (s, d) => graft.operators.Curation.packWasteCard(
          graft.operators.TextAnalysis.tokenCounts(Tables.documents(s, d))
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("alnum_tokens").as("n_tok")), 500L)
        .orderBy("layout"),
      Some(s"WITH RECURSIVE $bestfitCtes,\n" +
        """bfseq AS (SELECT bin, sum(n_tok) AS ntk, sum(cls) AS ctk
          |  FROM allasg GROUP BY bin),
          |bfrow AS (SELECT 'bestfit' AS layout,
          |  CAST(count(*) AS BIGINT) AS n_seqs,
          |  CAST(sum(ntk) AS BIGINT) AS n_tokens,
          |  CAST(sum(CASE WHEN ctk <= 500 THEN 500 - ntk ELSE 0 END) AS BIGINT) AS pad_tokens,
          |  CAST(0 AS BIGINT) AS split_docs FROM bfseq),
          |cstart AS (
          |  SELECT doc_id, n_tok, COALESCE(sum(n_tok) OVER (ORDER BY h, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
          |  FROM tk),
          |crow AS (SELECT 'concat' AS layout,
          |  CAST((sum(n_tok) + 499) // 500 AS BIGINT) AS n_seqs,
          |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
          |  CAST(((sum(n_tok) + 499) // 500) * 500 - sum(n_tok) AS BIGINT) AS pad_tokens,
          |  CAST(sum(CASE WHEN n_tok >= 1 AND start // 500 <> (start + n_tok - 1) // 500
          |    THEN 1 ELSE 0 END) AS BIGINT) AS split_docs
          |  FROM cstart)
          |SELECT * FROM bfrow UNION ALL SELECT * FROM crow ORDER BY layout""".stripMargin)),

    // Deterministic train/val/test split (90/5/5): salted content-hash
    // thresholds, row-local, reproducible on any cluster — adding docs
    // never reassigns existing ones.
    GraftQuery("text_split",
      (s, d) => graft.operators.Curation.assignSplits(Tables.documents(s, d),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CASE WHEN h < 58982 THEN 'train' WHEN h < 62259 THEN 'val' ELSE 'test' END AS split
          |FROM (
          |  SELECT doc_id,
          |    CAST(CONCAT('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS h
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    // Long-n-gram decontamination (n=8, any-overlap): the production
    // decontamination rule — at n=8 chance collisions vanish (the
    // 3-shingle variant needs a count threshold instead), so ANY shared
    // 8-gram flags. Both engines plant the same verbatim leak (every
    // doc_id ≡ 7 (mod 100) appends eval doc doc_id%10's full text), so
    // the flagged set is the planted one — hash-gated end to end. The
    // eval 8-gram set is eval-sized and broadcast, same as the n=3 tier.
    GraftQuery("text_decontaminate_long",
      (s, d) => {
        import org.apache.spark.sql.functions._
        // Spread: the 8-gram explode over the augmented side ran in the
        // single scan task (see operators.Spread)
        val docs = graft.operators.Spread(Tables.documents(s, d))
        val evalTexts = docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("eid"), col("text").as("etext"))
        val aug = docs.filter(col("doc_id") >= 10)
          .join(broadcast(evalTexts), col("doc_id") % 10 === col("eid"))
          .select(col("doc_id"),
            when(col("doc_id") % 100 === 7,
              concat(col("text"), lit(" "), col("etext")))
              .otherwise(col("text")).as("text"))
        val evalSh = graft.operators.Dedup.shingles(docs.filter(col("doc_id") < 10), 8)
          .select("shingle").distinct()
        graft.operators.Dedup.shingles(aug, 8)
          .join(broadcast(evalSh), "shingle")
          .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
          .orderBy("doc_id")
      },
      Some(
        """WITH aug AS (
          |  SELECT d.doc_id,
          |    CASE WHEN d.doc_id % 100 = 7 THEN d.text || ' ' || e.text ELSE d.text END AS text
          |  FROM documents d JOIN documents e ON e.doc_id = d.doc_id % 10
          |  WHERE d.doc_id >= 10),
          |ta AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM aug),
          |tsh AS (
          |  SELECT DISTINCT doc_id,
          |    arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] || ' ' || arr[i+4] || ' ' || arr[i+5] || ' ' || arr[i+6] || ' ' || arr[i+7] AS shingle
          |  FROM ta, unnest(range(1, len(arr) - 6)) t(i)
          |  WHERE len(arr) >= 8),
          |ea AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr
          |       FROM documents WHERE doc_id < 10),
          |esh AS (
          |  SELECT DISTINCT
          |    arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] || ' ' || arr[i+4] || ' ' || arr[i+5] || ' ' || arr[i+6] || ' ' || arr[i+7] AS shingle
          |  FROM ea, unnest(range(1, len(arr) - 6)) t(i)
          |  WHERE len(arr) >= 8)
          |SELECT doc_id, count(*) AS n_contaminated
          |FROM tsh JOIN esh USING (shingle)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Token-weighted source mixing — quotas in tokens (what a training
    // run targets), 50/30/20 over a 2000-token budget: each source keeps
    // its hash-order prefix while the inclusive running token sum stays
    // within quota. One source-partitioned window, no global sort.
    GraftQuery("text_mix_tokens",
      (s, d) => graft.operators.Curation.mixByTokens(Tables.documents(s, d),
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), 2000L)
        .orderBy("source", "cum", "doc_id"),
      Some(
        """WITH q(source, tok_quota) AS (VALUES ('src0', 1000), ('src1', 600), ('src2', 400)),
          |t AS (
          |  SELECT doc_id, source,
          |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> length(w) > 0))::BIGINT AS n_tok,
          |    md5(CAST(doc_id AS VARCHAR)) AS h
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, t.source, n_tok, tok_quota,
          |    sum(n_tok) OVER (PARTITION BY t.source ORDER BY h, doc_id) AS cum
          |  FROM t JOIN q ON q.source = t.source)
          |SELECT doc_id, source, n_tok, CAST(cum AS BIGINT) AS cum
          |FROM c WHERE cum <= tok_quota ORDER BY source, cum, doc_id""".stripMargin)),

    // Inter-source shingle containment matrix — the data-mixing
    // diagnostic: how much of source A's distinct content source B
    // already carries (directed). Distinct (source, shk) is one hash
    // aggregate; the self-join fans out ≤ |sources| per key, so the
    // output is |sources|²-bounded regardless of corpus size.
    GraftQuery("text_source_overlap",
      (s, d) => graft.operators.Curation.sourceOverlap(
          Tables.documents(s, d), DedupQueries.persistedShingleKeys(s, d))
        .orderBy("src_a", "src_b"),
      Some(
        s"""WITH ${DedupQueries.shingleCte}, ${DedupQueries.shkCte},
           |ss AS (
           |  SELECT DISTINCT d.source, k.shk
           |  FROM shk k JOIN documents d USING (doc_id)),
           |n AS (SELECT source, count(*) AS n_a FROM ss GROUP BY source),
           |p AS (
           |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
           |  FROM ss a JOIN ss b ON a.shk = b.shk AND a.source <> b.source
           |  GROUP BY 1, 2)
           |SELECT p.src_a, p.src_b, p.n_shared, n.n_a,
           |  CAST(p.n_shared AS DOUBLE) / n.n_a AS containment
           |FROM p JOIN n ON n.source = p.src_a
           |ORDER BY src_a, src_b""".stripMargin)),

    // Deterministic epoch shuffle — reproducible training order (epoch-
    // salted content-hash rank), global rank computed distributed via the
    // same 16-bucket prefix decomposition as text_pack; the oracle is the
    // plain per-epoch global window, identical arithmetic.
    GraftQuery("text_shuffle",
      (s, d) => graft.operators.Curation.epochShuffle(Tables.documents(s, d), 2)
        .orderBy("epoch", "pos"),
      Some(
        """WITH e(epoch) AS (VALUES (0), (1)),
          |t AS (
          |  SELECT e.epoch, d.doc_id,
          |    md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS h
          |  FROM documents d, e)
          |SELECT epoch,
          |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS BIGINT) AS pos,
          |  doc_id
          |FROM t ORDER BY epoch, pos""".stripMargin)),

    // The per-doc packing frame (text_pack's pre-aggregation layout, what
    // a data loader consumes): each doc's global token offset and chunk.
    GraftQuery("text_pack_docs",
      (s, d) => graft.operators.Curation.packAssignments(Tables.documents(s, d), 500L)
        .orderBy("start"),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> length(w) > 0))::BIGINT AS n_tok,
          |    md5(CAST(doc_id AS VARCHAR)) AS h
          |  FROM documents)
          |SELECT doc_id, n_tok,
          |  CAST(COALESCE(sum(n_tok) OVER (ORDER BY h, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start,
          |  CAST(COALESCE(sum(n_tok) OVER (ORDER BY h, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 500 AS BIGINT) AS seq_id
          |FROM t ORDER BY start""".stripMargin)),

    // Top-3 tf-idf terms per document (log variant) — window top-k, planned
    // with WindowGroupLimit (rank pushdown: per-partition heaps, no full
    // materialization of the ranked set).
    GraftQuery("text_top_terms",
      (s, d) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val byDocWord = graft.operators.Search.docWordCounts(docs)
        // df directly from the (doc,word) aggregate — word ids are pure
        // plumbing here, and routing through the vocabulary dragged its
        // whole rank/offset subtree (and extra corpus scans) into the plan
        val df = byDocWord.groupBy("word").agg(count(lit(1)).as("df"))
        // In-plan corpus count (single-row broadcast), not an eager
        // docs.count() driver job — see search_topk_logidf.
        val nDf = docs.agg(count(lit(1)).cast("double").as("n_docs"))
        val scored = byDocWord.join(broadcast(df), "word")
          .crossJoin(broadcast(nDf))
          .select(col("doc_id"), col("word"),
            graft.functions.Stable.stab(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
        val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("word"))
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("doc_id", "rn", "word", "tfidf")
          .orderBy("doc_id", "rn")
      },
      Some(
        s"""WITH ${SearchQueries.tokCte}, ${SearchQueries.vocabCte},
           |p AS (
           |  SELECT t.doc_id, v.word, v.df, count(*) AS tf
           |  FROM tok t JOIN vocab v USING (word) GROUP BY 1, 2, 3),
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
           |sc AS (
           |  SELECT doc_id, word,
           |    floor(tf * ln((SELECT n FROM n) / df)*1000000.0+0.5)/1000000.0 AS tfidf
           |  FROM p),
           |r AS (
           |  SELECT doc_id, word, tfidf,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
           |  FROM sc)
           |SELECT doc_id, rn, word, tfidf FROM r WHERE rn <= 3
           |ORDER BY doc_id, rn""".stripMargin)),

    // Quality decile calibration table: which micro-unit score buys
    // entry to each tenth of the corpus, and how wide each band is —
    // the same bounded-histogram shape as text_quality_topp, with the
    // decile label an exact integer ceil-division so ties band
    // identically in both engines and no per-doc rank ever runs.
    GraftQuery("text_quality_deciles",
      (s, d) => TextAnalysis.qualityDeciles(Tables.documents(s, d)),
      Some(
        s"""WITH ${SearchQueries.tokCte},
           |f AS (
           |  SELECT doc_id, count(*) AS n_tokens,
           |    CAST(sum(CASE WHEN regexp_matches(word, '[0-9]') THEN 1 ELSE 0 END) AS DOUBLE)
           |      / count(*) AS digit_ratio,
           |    CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS ttr
           |  FROM tok GROUP BY doc_id),
           |s AS (
           |  SELECT CAST(floor(least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * ttr
           |    * (1.0 - digit_ratio) * 1000000.0 + 0.5) AS BIGINT) AS q_micro
           |  FROM f),
           |h AS (SELECT q_micro, count(*) AS c FROM s GROUP BY q_micro),
           |cm AS (
           |  SELECT q_micro, c, sum(c) OVER (ORDER BY q_micro) AS cum,
           |    (SELECT count(*) FROM s) AS n
           |  FROM h),
           |dd AS (
           |  SELECT q_micro, c,
           |    CAST((10 * cum + n - 1) // n AS BIGINT) AS decile FROM cm)
           |SELECT decile, CAST(sum(c) AS BIGINT) AS n_docs,
           |  min(q_micro) AS q_lo, max(q_micro) AS q_hi
           |FROM dd GROUP BY decile ORDER BY decile""".stripMargin)),

    // Snapshot diff card between two corpus versions (derived in-plan:
    // old = docs without the %10==0 slice, with the %10==5 slice's text
    // carrying an OLD-marker prefix; new = docs without the %10==9
    // slice) — added/removed/changed/unchanged with doc + byte deltas,
    // one full outer equi-join + a 4-row rollup, integer-exact
    // (Curation.snapshotDiff).
    GraftQuery("text_snapshot_diff",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val docs = Tables.documents(s, d)
        val old = docs.filter(col("doc_id") % 10 =!= 0)
          .withColumn("text", when(col("doc_id") % 10 === 5,
            concat(lit("OLD "), col("text"))).otherwise(col("text")))
        val nw = docs.filter(col("doc_id") % 10 =!= 9)
        graft.operators.Curation.snapshotDiff(old, nw).orderBy("change")
      },
      Some(
        """WITH o AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 10 = 5 THEN 'OLD ' || text ELSE text END AS ot
          |  FROM documents WHERE doc_id % 10 <> 0),
          |n AS (SELECT doc_id, text AS nt FROM documents WHERE doc_id % 10 <> 9),
          |j AS (SELECT o.ot, n.nt FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id),
          |c AS (
          |  SELECT CASE WHEN ot IS NULL THEN 'added'
          |              WHEN nt IS NULL THEN 'removed'
          |              WHEN md5(ot) <> md5(nt) THEN 'changed'
          |              ELSE 'unchanged' END AS change,
          |    COALESCE(length(ot), 0) AS c_old, COALESCE(length(nt), 0) AS c_new
          |  FROM j)
          |SELECT change, count(*) AS n_docs,
          |  CAST(sum(c_old) AS BIGINT) AS chars_old,
          |  CAST(sum(c_new) AS BIGINT) AS chars_new
          |FROM c GROUP BY change ORDER BY change""".stripMargin)),

    // PSI drift between the two snapshot versions over doc-length
    // buckets (Curation.psiDrift) — per-bucket terms + the total; add-1
    // smoothing over the union bucket set keeps empty-side buckets
    // finite (that asymmetry is PSI's whole signal).
    GraftQuery("text_psi_drift",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val docs = Tables.documents(s, d)
        graft.operators.Curation.psiDrift(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 =!= 9)).orderBy("bucket")
      },
      Some(
        """WITH ho AS (
          |  SELECT n_chars // 50 AS bucket, count(*) AS c_old
          |  FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1),
          |hn AS (
          |  SELECT n_chars // 50 AS bucket, count(*) AS c_new
          |  FROM documents WHERE doc_id % 10 <> 9 GROUP BY 1),
          |j AS (
          |  SELECT COALESCE(ho.bucket, hn.bucket) AS bucket,
          |    CAST(COALESCE(c_old, 0) AS BIGINT) AS c_old,
          |    CAST(COALESCE(c_new, 0) AS BIGINT) AS c_new
          |  FROM ho FULL OUTER JOIN hn ON ho.bucket = hn.bucket),
          |t AS (SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
          |        CAST(sum(c_new) AS BIGINT) AS n_new, count(*) AS nb FROM j),
          |tm AS (
          |  SELECT j.bucket, j.c_old, j.c_new,
          |    floor((
          |      (CAST(j.c_new + 1 AS DOUBLE) / CAST(t.n_new + t.nb AS DOUBLE)
          |       - CAST(j.c_old + 1 AS DOUBLE) / CAST(t.n_old + t.nb AS DOUBLE))
          |      * ln((CAST(j.c_new + 1 AS DOUBLE) / CAST(t.n_new + t.nb AS DOUBLE))
          |           / (CAST(j.c_old + 1 AS DOUBLE) / CAST(t.n_old + t.nb AS DOUBLE)))
          |    )*1000000.0+0.5)/1000000.0 AS term
          |  FROM j, t)
          |SELECT bucket, c_old, c_new, term,
          |  floor(CAST(sum(CAST(term AS DECIMAL(18,6))) OVER () AS DOUBLE)*1000000.0+0.5)/1000000.0 AS psi_total
          |FROM tm ORDER BY bucket""".stripMargin)),

    // Per-source data card: volume, language spread, quality/diversity
    // means — the release artifact of a curation run. Hash-gated through
    // the dsum/stab double-aggregation discipline (per-doc stab(6) →
    // exact-decimal source sums → stab'd means).
    GraftQuery("text_datasheet",
      (s, d) => TextAnalysis.datasheet(Tables.documents(s, d)).orderBy("source"),
      Some(
        s"""WITH ${SearchQueries.tokCte},
           |f AS (
           |  SELECT doc_id, count(*) AS n_tokens,
           |    CAST(sum(CASE WHEN regexp_matches(word, '[0-9]') THEN 1 ELSE 0 END) AS DOUBLE)
           |      / count(*) AS digit_ratio,
           |    CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS ttr
           |  FROM tok GROUP BY doc_id),
           |s AS (
           |  SELECT doc_id, n_tokens,
           |    floor(least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * ttr
           |      * (1.0 - digit_ratio) * 1000000.0 + 0.5) / 1000000.0 AS q6,
           |    floor(ttr * 1000000.0 + 0.5) / 1000000.0 AS t6
           |  FROM f),
           |j AS (
           |  SELECT d.source, d.lang, d.n_chars, s.n_tokens, s.q6, s.t6
           |  FROM s JOIN documents d USING (doc_id))
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
           |  count(DISTINCT lang) AS n_langs,
           |  floor(CAST(sum(n_tokens) AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_doc_tokens,
           |  floor(CAST(sum(CAST(q6 AS DECIMAL(18,6))) AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_quality,
           |  floor(CAST(sum(CAST(t6 AS DECIMAL(18,6))) AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_ttr
           |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // EXACT heavy hitters (tokens above 2 % of the corpus token stream)
    // over the Zipf-vocabulary corpus — ~10 stopwords at ~4 % each
    // against a 200k-word tail, so the direct groupBy-everything form
    // would shuffle the whole vocabulary to surface ten rows. The
    // two-pass Misra–Gries form (Sketch.heavyHitters) finds a provable
    // candidate superset in ≤128-entry bounded state, then recounts ONLY
    // candidates — the sketch makes the first pass cheap, the recount
    // makes the answer exact, and the oracle is therefore the plain
    // HAVING query over the re-derived token stream.
    GraftQuery("text_heavy_hitters",
      (s, d) => graft.operators.Sketch.heavyHitters(
        DedupQueries.persistedZipfCorpus(s, d), 0.02, 128),
      Some(
        s"""WITH ${graft.sources.ZipfCorpus.shingleCte},
           |tot AS (SELECT count(*) AS n FROM ztok)
           |SELECT tok AS token, count(*) AS cnt FROM ztok
           |GROUP BY tok HAVING count(*) > 0.02 * (SELECT n FROM tot)
           |ORDER BY token""".stripMargin)),

    // Count-Min sketch of the corpus token stream (round 15 — the
    // ADDITIVE frequency sketch beside the exact heavy-hitter pass):
    // d=4 hash rows × w=32 counters, hash = xxhash64("cms<r>:<token>")
    // mod w, every cell hash-gated via the XxhashSql chain. The scale
    // story is the shuffle: partial aggregation collapses each partition
    // to ≤ d·w cells map-side, so a 100 TB token stream shuffles a few
    // thousand rows where groupBy(token) shuffles the vocabulary.
    // Merge is addition — the streaming twin's ledger-sum is exact
    // (SketchStreamSpec pins every prefix).
    GraftQuery("text_cms_sketch",
      (s, d) => graft.operators.Sketch.cmsSketch(
          Tables.documents(s, d), d = 4, w = 32)
        .orderBy("r", "c"),
      Some(
        s"""WITH ${cmsCtes(4, 32)}
           |SELECT r, c, cnt FROM cms ORDER BY r, c""".stripMargin)),

    // CMS honesty card (the dedup_minhash_est discipline): sketch
    // estimate vs exact count for the top-100 tokens of the NATURAL
    // corpus — 865-word real-prose Zipf vocabulary over 348k
    // occurrences, w=256, so the card shows genuine collision error
    // (overcount ≥ 0 always — the one-sided guarantee — and ≤ ε·N =
    // (e/w)·N w.h.p.; SketchSpec pins the sign corpus-wide and the
    // measured max). The exact side is the evaluation, not the
    // production path.
    GraftQuery("text_cms_est",
      (s, d) => graft.operators.Sketch.cmsEstimates(
          graft.sources.NaturalCorpus.corpus(s), d = 4, w = 256, topN = 100)
        .orderBy("token"),
      Some(
        s"""WITH ${graft.sources.NaturalCorpus.corpusCte},
           |${cmsCtes(4, 256)},
           |probes AS (
           |  SELECT token, cnt AS exact_cnt FROM tc
           |  ORDER BY cnt DESC, token LIMIT 100),
           |est AS (
           |  SELECT p.token, p.exact_cnt, min(s.cnt) AS cms_est
           |  FROM probes p
           |    JOIN qcb9 q ON q.token = p.token
           |    JOIN cms s ON s.r = CAST(q.r AS INT)
           |      AND s.c = CAST(((q.xh % 256) + 256) % 256 AS INT)
           |  GROUP BY 1, 2)
           |SELECT token, cms_est, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           |  cms_est - exact_cnt AS overcount
           |FROM est ORDER BY token""".stripMargin)),

    // Per-source Zipf fit: OLS slope/intercept of ln(freq) on ln(rank) —
    // the distributional-health gauge (≈ −1 on natural text; flat =
    // template flood, cliff = synthetic). Rank via the decomposed
    // dense-rank (no vocabulary-sized window); sums via stab(6)+DECIMAL,
    // so the oracle's single-window rank formulation hash-matches.
    GraftQuery("text_zipf_slope",
      (s, d) => TextAnalysis.zipfSlope(Tables.documents(s, d))
        .orderBy("source"),
      Some(
        """WITH stok AS (
           |  SELECT d.source, w AS word
           |  FROM documents d, unnest(regexp_split_to_array(lower(d.text), '\s+')) t(w)
           |  WHERE length(w) > 0 AND NOT regexp_matches(w, '^[0-9]+$')),
           |tf AS (SELECT source, word, count(*) AS freq FROM stok GROUP BY 1, 2),
           |r AS (
           |  SELECT source, freq,
           |    row_number() OVER (PARTITION BY source ORDER BY freq DESC, word) AS rank
           |  FROM tf),
           |l AS (
           |  SELECT source,
           |    floor(ln(rank)*1000000.0+0.5)/1000000.0 AS lx,
           |    floor(ln(freq)*1000000.0+0.5)/1000000.0 AS ly
           |  FROM r),
           |q AS (
           |  SELECT source, lx, ly,
           |    floor(lx*ly*1000000.0+0.5)/1000000.0 AS pxy,
           |    floor(lx*lx*1000000.0+0.5)/1000000.0 AS pxx
           |  FROM l),
           |s AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
           |    CAST(sum(CAST(lx AS DECIMAL(18,6))) AS DOUBLE) AS sx,
           |    CAST(sum(CAST(ly AS DECIMAL(18,6))) AS DOUBLE) AS sy,
           |    CAST(sum(CAST(pxy AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
           |    CAST(sum(CAST(pxx AS DECIMAL(18,6))) AS DOUBLE) AS sxx
           |  FROM q GROUP BY source)
           |SELECT source, n_terms,
           |  floor(((n_terms*sxy - sx*sy) / (n_terms*sxx - sx*sx))*1000000.0+0.5)/1000000.0 AS slope,
           |  floor(((sy - ((n_terms*sxy - sx*sy) / (n_terms*sxx - sx*sx))*sx) / n_terms)*1000000.0+0.5)/1000000.0 AS intercept
           |FROM s ORDER BY source""".stripMargin))
  )

  /** DuckDB twin of Curation.curate: the per-signal oracles' CTEs composed
    * into one statement. lshPairCtes supplies d/sh (the shingle CTEs) plus
    * the LSH pair graph `p`; rep/nll reuse the same `d`.
    */
  lazy val curateOracle: String =
    s"""WITH RECURSIVE ${DedupQueries.lshPairCtes(
          DedupQueries.KeepBands, DedupQueries.KeepRows, DedupQueries.KeepThreshold)},
       |${DedupQueries.ccCtes},
       |dup_drop AS (
       |  SELECT node AS doc_id FROM lbl GROUP BY node
       |  HAVING node <> min(label)),
       |${SearchQueries.tokCte},
       |f AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN word IN $stopListSql THEN 1 ELSE 0 END) AS DOUBLE)
       |      / count(*) AS stopword_ratio,
       |    CAST(sum(CASE WHEN regexp_matches(word, '[0-9]') THEN 1 ELSE 0 END) AS DOUBLE)
       |      / count(*) AS digit_ratio,
       |    CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS ttr
       |  FROM tok GROUP BY doc_id),
       |q AS (
       |  SELECT doc_id, n_tokens, stopword_ratio,
       |    least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * ttr * (1.0 - digit_ratio) AS quality
       |  FROM f),
       |g AS (
       |  SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS g
       |  FROM d, unnest(range(1, len(arr) - 1)) t(i)
       |  WHERE len(arr) >= 3),
       |rep AS (
       |  SELECT doc_id,
       |    1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*) AS rep_ratio
       |  FROM g GROUP BY doc_id),
       |b AS (
       |  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
       |  FROM d, unnest(range(1, len(arr))) t(i)
       |  WHERE len(arr) >= 2),
       |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
       |cf AS (SELECT w1, count(*) AS cf FROM b GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM d, unnest(arr) u(w)),
       |nllrow AS (
       |  SELECT b.doc_id,
       |    floor(-ln((cb.cb + 1) / (cf.cf + (SELECT v FROM v)))*1000000.0+0.5)/1000000.0 AS nll
       |  FROM b JOIN cb USING (w1, w2) JOIN cf USING (w1)),
       |nll AS (
       |  SELECT doc_id,
       |    floor((CAST(sum(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / count(*))*1000000.0+0.5)/1000000.0 AS avg_nll
       |  FROM nllrow GROUP BY doc_id),
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10),
       |contam AS (
       |  SELECT sh.doc_id FROM sh JOIN bench USING (shingle)
       |  WHERE sh.doc_id >= 10
       |  GROUP BY sh.doc_id HAVING count(*) > 4)
       |SELECT q.doc_id, q.n_tokens, q.quality, rep.rep_ratio, nll.avg_nll
       |FROM q JOIN rep USING (doc_id) JOIN nll USING (doc_id)
       |WHERE q.doc_id >= 10
       |  AND q.n_tokens >= 30 AND q.quality >= 0.32 AND q.stopword_ratio >= 0.02
       |  AND rep.rep_ratio <= 0.05 AND nll.avg_nll <= 3.45
       |  AND q.doc_id NOT IN (SELECT doc_id FROM contam)
       |  AND q.doc_id NOT IN (SELECT doc_id FROM dup_drop)
       |ORDER BY q.doc_id""".stripMargin
}
