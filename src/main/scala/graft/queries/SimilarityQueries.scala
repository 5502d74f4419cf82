package graft.queries

import graft.GraftQuery
import graft.operators.Similarity
import graft.sources.Tables

/** Similarity search over `embeddings` (ARRAY<FLOAT>), with DuckDB oracles.
  * Both engines promote float→double element-wise and collapse the folded
  * sums with the floor-stabilizer, so cosines hash-match.
  */
object SimilarityQueries {

  /** Prepared vectors: doubles + L2 norm (twin of Similarity.prepared). */
  val prepCte: String =
    """v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v)""".stripMargin

  def cosSql(a: String, b: String): String =
    s"floor(list_sum(list_transform(range(1, len($a.e)+1), i -> $a.e[i]*$b.e[i]))" +
      s"/($a.nrm*$b.nrm)*1000000.0+0.5)/1000000.0"

  /** Exact-cosine candidates `name`: every (query vec_id < 10, other
    * vector) pair with its cos — the brute-force scoring of knn_brute and
    * of both recall oracles' ground truth.
    */
  private def bruteCandCte(name: String): String =
    s"""$name AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, ${cosSql("a", "b")} AS cos
       |  FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id <> a.vec_id)""".stripMargin

  /** The per-query ranking CTE `name` over `src` (`cols` plus `rank` by
    * cos desc, ties to the lower neighbor_id) — the SQL twin of
    * Ranks.perQueryTopK before its rank filter.
    */
  private def rankCte(name: String, cols: String, src: String): String = {
    val pad = " " * (name.length + 5)
    s"""$name AS (SELECT $cols,
       |$pad  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |${pad}FROM $src)""".stripMargin
  }

  /** Brute-force ground truth bc → br → brute (query_id, neighbor_id):
    * the exact top-5 both recall oracles score an ANN tier against.
    */
  private val bruteCtes: String =
    s"""${bruteCandCte("bc")},
       |${rankCte("br", "query_id, neighbor_id", "bc")},
       |brute AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5)""".stripMargin

  /** stab(6) as the label-cell oracles spell it. */
  private def stabLit(x: String): String = s"floor($x*1000000.0+0.5)/1000000.0"

  /** Per-label centroid rows `cent` (label, i, c): the stab'd per-dim
    * means of Similarity.LabelCells, `stab` spelling the stabilizer.
    */
  private def labelCentCte(stab: String => String): String =
    s"""cent AS (
       |  SELECT label, i, ${stab("avg(e[i])")} AS c
       |  FROM (SELECT em.label, v.e FROM embeddings em JOIN v ON em.vec_id = v.vec_id),
       |       unnest(range(1, len(e)+1)) t(i)
       |  GROUP BY label, i)""".stripMargin

  /** The label router cent → qd → probes (query_id, probe_label): stab'd
    * query·centroid dots, the `nprobe` best labels per query, ties to the
    * lower label — the SQL twin of Similarity.LabelCells.route.
    */
  private def labelRouteCtes(nQueries: Int, nprobe: Int, stab: String => String): String =
    s"""${labelCentCte(stab)},
       |qd AS (
       |  SELECT q.vec_id AS query_id, cent.label,
       |    ${stab("sum(q.e[cent.i] * cent.c)")} AS qdot
       |  FROM v q, cent WHERE q.vec_id < $nQueries
       |  GROUP BY 1, 2),
       |probes AS (
       |  SELECT query_id, label AS probe_label FROM (
       |    SELECT query_id, label,
       |      row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, label) AS rn
       |    FROM qd) WHERE rn <= $nprobe)""".stripMargin

  /** The sign-bit LSH sketch of the embeddings (vec_id, band, bh),
    * materialized once per SF dir — the 1024-projection stage is the
    * expensive part of blocked near-dup, and it's a pure corpus function
    * a pipeline persists next to the vectors.
    */
  def persistedEmbeddingBands(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Persisted(s, d, "embands", "embeddings.parquet", "_b1024r8") {
      Similarity.embeddingBands(Tables.embeddings(s, d))
    }

  private def ivfIndexDir(s: org.apache.spark.sql.SparkSession, d: String,
                          kind: String)(build: String => Unit): String =
    Persisted.indexDir(s, d, kind, "embeddings.parquet", "centroids")(build)

  /** Persisted PQ index (codebooks + batch-keyed code table), built once
    * per SF dir under the usual source-fingerprinted, self-healing gate —
    * the same index-dir lifecycle as the IVF layouts (build → streaming
    * ingest via VectorStreams.pqIngest → retrain/swap).
    */
  def pqIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    Persisted.indexDir(s, d, "pq-b2", "embeddings.parquet", "codebooks") { dir =>
      Similarity.buildPqIndex(Tables.embeddings(s, d), dir)
    }

  def all: Seq[GraftQuery] = Seq(

    // Embedding-cosine near-duplicate pairs, LSH-blocked. Threshold 0.45:
    // the synthetic embeddings top out at cos≈0.51, so this is the
    // "near-dup" tail there (a production corpus would use ~0.9+, where
    // sign-bucket collision probability — and so recall — is far higher).
    // The oracle replays the identical md5-derived hyperplanes and band
    // buckets in SQL, so the blocked output hash-matches at any SF.
    GraftQuery("dedup_embedding",
      (s, d) => Similarity.cosinePairsLshFrom(Tables.embeddings(s, d),
          persistedEmbeddingBands(s, d), 0.45)
        .orderBy("vec_a", "vec_b"),
      Some(lshPairSql(1024, 8, 64, 0.45))),

    // The all-pairs exact twin — correctness-gate only (bench-excluded):
    // deliberately quadratic, it pins what the blocked path's recall is
    // measured against (identical rows at the sf0.01 gate).
    GraftQuery("dedup_embedding_exactverify",
      (s, d) => Similarity.cosinePairs(Tables.embeddings(s, d), 0.45)
        .orderBy("vec_a", "vec_b"),
      Some(
        s"""WITH $prepCte
           |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${cosSql("a", "b")} AS cos
           |FROM n a JOIN n b ON a.vec_id < b.vec_id
           |WHERE ${cosSql("a", "b")} >= 0.45
           |ORDER BY vec_a, vec_b""".stripMargin),
      bench = false),

    // Semantic decontamination — the embedding-space sibling of
    // text_decontaminate: corpus vectors whose max cosine against any
    // eval vector (vec_id < 10, the same eval stand-in convention)
    // reaches 0.35. A paraphrased eval answer shares no shingles but a
    // near-identical embedding, so a production pipeline runs BOTH gates.
    // Scale shape is the knn_pq_batch contract: broadcast the bounded
    // eval side, one narrow corpus pass, one skinny-row max aggregate.
    GraftQuery("text_decontaminate_semantic",
      (s, d) => Similarity.evalContamination(Tables.embeddings(s, d), 10, 0.35)
        .orderBy("vec_id"),
      Some(
        s"""WITH $prepCte,
           |ev AS (SELECT e, nrm FROM n WHERE vec_id < 10),
           |c AS (
           |  SELECT a.vec_id, ${cosSql("a", "b")} AS cos
           |  FROM n a, ev b WHERE a.vec_id >= 10)
           |SELECT vec_id, max(cos) AS max_cos FROM c GROUP BY vec_id
           |HAVING max(cos) >= 0.35 ORDER BY vec_id""".stripMargin)),

    // Embedding-quality QA: bottom-5 per label by cosine to the label's
    // own centroid — mislabeled/outlier candidates. Centroids are the
    // stab(6) per-dim averages the IVF oracles already pin; the affinity
    // pass is a row-local ArrayDot against broadcast per-label arrays.
    GraftQuery("emb_label_outliers",
      (s, d) => Similarity.labelOutliers(Tables.embeddings(s, d), 5)
        .orderBy("label", "rn"),
      Some(
        s"""WITH $prepCte,
           |${labelCentCte(stabLit)},
           |cl AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label),
           |aff AS (
           |  SELECT em.label, em.vec_id,
           |    floor(list_sum(list_transform(range(1, len(n.e)+1), i -> n.e[i]*cl.cv[i]))
           |      / (n.nrm * sqrt(list_sum(list_transform(cl.cv, x -> x*x))))*1000000.0+0.5)/1000000.0 AS cos
           |  FROM embeddings em JOIN n ON n.vec_id = em.vec_id
           |  JOIN cl ON cl.label = em.label),
           |r AS (SELECT label, vec_id, cos,
           |        row_number() OVER (PARTITION BY label ORDER BY cos, vec_id) AS rn
           |      FROM aff)
           |SELECT label, CAST(rn AS BIGINT) AS rn, vec_id, cos FROM r
           |WHERE rn <= 5 ORDER BY label, rn""".stripMargin)),

    // Brute-force exact top-5 neighbors for the first 10 vectors.
    GraftQuery("knn_brute",
      (s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d), 10, 5)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank"),
      Some(
        s"""WITH $prepCte,
           |${bruteCandCte("c")},
           |${rankCte("r", "query_id, neighbor_id, cos", "c")}
           |SELECT query_id, neighbor_id, cos, rank FROM r
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // Persisted cell-partitioned IVF index over label cells
    // (Similarity.buildIvfIndex → ivfTopKIndexed): probing = parquet
    // partition pruning, here with nprobe=2 — the second-nearest cell
    // recovers neighbors that fall across the boundary of the best cell (the kmeans tier already
    // probes 2; probe-1 was a structural recall gap). Index built on
    // first use per SF dir; the oracle derives the same 2-cell probe set
    // in SQL, so the widened path stays hash-gated.
    GraftQuery("knn_ivf_indexed",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, d)
        val cells = Similarity.LabelCells
        val idx = ivfIndexDir(s, d, "ivf-b2")(Similarity.buildIvfIndex(emb, _, cells))
        Similarity.ivfTopKIndexed(s, idx, cells, emb.filter(col("vec_id") < 10), 5)
          .select("query_id", "probe_label", "neighbor_id", "cos", "rank")
          .orderBy("query_id", "rank")
      },
      Some(knnIvfOracleN(2))),

    // IVF probe-1 ANN: label as coarse cell, nearest centroid by dot, then
    // exact cosine inside the probed cell (knn_ivf_batch at nprobe=1).
    GraftQuery("knn_ivf",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopKBatch(emb, emb.filter(col("vec_id") < 10), 5, nprobe = 1)
          .select("query_id", "probe_label", "neighbor_id", "cos", "rank")
          .orderBy("query_id", "rank")
      },
      Some(knnIvfOracle)),

    // LSH-bucketed ANN top-5: candidates share >= 1 sign-bucket with the
    // query in the persisted sketch, exact cosine ranks them. Deterministic
    // end-to-end (md5-parity planes), so unlike the kmeans tier the whole
    // approximation has a SQL twin and hash-matches; SimilaritySpec pins
    // recall vs knn_brute on both corpora.
    GraftQuery("knn_lsh",
      (s, d) => Similarity.knnLshFrom(Tables.embeddings(s, d),
          persistedEmbeddingBands(s, d), 10, 5)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank"),
      Some(knnLshOracle(1024, 8, 64, 10, 5))),

    // Offline ANN eval as a registered batch job — per-query recall@5 of
    // the LSH tier against brute-force ground truth (search_eval's role,
    // for vectors; SimilaritySpec's recall pin, promoted to a hash-gated
    // production query). The oracle replays BOTH tiers from the shared
    // CTE pieces and takes the same id-set intersection.
    GraftQuery("ann_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.annRecall(
          Similarity.bruteForceTopK(emb, 10, 5),
          Similarity.knnLshFrom(emb, persistedEmbeddingBands(s, d), 10, 5))
          .orderBy("query_id")
      },
      Some(
        s"""WITH $prepCte,
           |${bitsCtes(1024, 8, 64)},
           |cand AS (
           |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
           |  FROM bits x JOIN bits y
           |    ON x.band = y.band AND x.bh = y.bh AND x.vec_id <> y.vec_id
           |  WHERE x.vec_id < 10),
           |lc AS (
           |  SELECT cand.query_id, cand.neighbor_id, ${cosSql("a", "b")} AS cos
           |  FROM cand JOIN n a ON cand.query_id = a.vec_id
           |            JOIN n b ON cand.neighbor_id = b.vec_id),
           |${rankCte("lr", "query_id, neighbor_id", "lc")},
           |lsh AS (SELECT query_id, neighbor_id FROM lr WHERE rank <= 5),
           |$bruteCtes,
           |hit AS (
           |  SELECT b.query_id,
           |    CASE WHEN l.neighbor_id IS NULL THEN 0 ELSE 1 END AS h
           |  FROM brute b LEFT JOIN lsh l
           |    ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id)
           |SELECT query_id, CAST(sum(h) AS BIGINT) AS n_hit,
           |  CAST(count(*) AS BIGINT) AS k_eval,
           |  CAST(sum(h) AS DOUBLE) / count(*) AS recall
           |FROM hit GROUP BY query_id ORDER BY query_id""".stripMargin)),

    // The same offline recall job for the IVF tier (probe-1, the tier
    // whose recall GAP is structural — neighbors across a cell boundary
    // are unreachable; the number quantifies exactly what widening to
    // nprobe=2 buys). Oracle replays the IVF routing + brute CTEs.
    GraftQuery("ann_recall_ivf",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, d)
        Similarity.annRecall(
          Similarity.bruteForceTopK(emb, 10, 5),
          Similarity.ivfTopKBatch(emb, emb.filter(col("vec_id") < 10), 5, nprobe = 1))
          .orderBy("query_id")
      },
      Some(
        s"""WITH $prepCte,
           |${labelRouteCtes(10, 1, stabLit)},
           |cell AS (SELECT em.vec_id, em.label, n.e, n.nrm
           |         FROM embeddings em JOIN n ON em.vec_id = n.vec_id),
           |ic AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |         ${cosSql("a", "b")} AS cos
           |  FROM n a
           |    JOIN probes ON probes.query_id = a.vec_id
           |    JOIN cell b ON b.label = probes.probe_label AND b.vec_id <> a.vec_id),
           |${rankCte("ir", "query_id, neighbor_id", "ic")},
           |ivf AS (SELECT query_id, neighbor_id FROM ir WHERE rank <= 5),
           |$bruteCtes,
           |hit AS (
           |  SELECT b.query_id,
           |    CASE WHEN l.neighbor_id IS NULL THEN 0 ELSE 1 END AS h
           |  FROM brute b LEFT JOIN ivf l
           |    ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id)
           |SELECT query_id, CAST(sum(h) AS BIGINT) AS n_hit,
           |  CAST(count(*) AS BIGINT) AS k_eval,
           |  CAST(sum(h) AS DOUBLE) / count(*) AS recall
           |FROM hit GROUP BY query_id ORDER BY query_id""".stripMargin)),

    // Product-quantization ANN: ADC shortlist over 8-subspace × 16-code
    // PQ codes (the 16-64× memory-compression tier — stage-1 scan cost is
    // the CODE table, never the vectors), exact-cosine re-rank of the
    // shortlist. Runs against the persisted codebook/code tables (the m
    // per-subspace trainers are a per-corpus index build, like every
    // other tier here). HASH-GATED since round 11: the gated trainer
    // made the codebooks SQL-re-derivable, so the oracle re-trains all m
    // codebooks, re-encodes, and replays ADC + re-rank; SimilaritySpec
    // additionally pins recall@5 ≥ 0.8 on clustered data and that every
    // reported cosine is the true cosine.
    GraftQuery("knn_pq",
      (s, d) => Similarity.knnPqIndexed(s, pqIndexDir(s, d), Tables.embeddings(s, d), 10, 5)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank"),
      Some(knnPqOracle(8, 16, 5, 8, 10, 5, 10))),

    // PQ reconstruction card — emb_sq8_error's sibling for the product
    // quantizer: per-vector L2 error and original↔reconstruction cosine
    // against the SAME persisted codebooks the ADC tiers serve from.
    // The oracle replays the per-subspace trainers (the knn_pq chains)
    // and reconstructs from the assigned centroids.
    GraftQuery("emb_pq_error",
      (s, d) => {
        val cbs = Similarity.pqCodebooksFromDf(
          Similarity.indexTable(s, pqIndexDir(s, d), "codebooks"))
        Similarity.pqReconError(Tables.embeddings(s, d), cbs).orderBy("vec_id")
      },
      Some {
        val (m, kCodes, iters, sub) = (8, 16, 5, 8)
        val subs = 0 until m
        val preps = subs.map(j =>
          s"p$j AS MATERIALIZED (SELECT vec_id, e[${j * sub + 1}:${j * sub + sub}] AS e FROM n)")
          .mkString(",\n")
        val chains = subs.map(j => kmeansChain(s"s$j", s"p$j", kCodes, iters)).mkString(",\n")
        val encs = subs.map(j => kmAssignCte(s"enc$j", s"p$j", s"s${j}c$iters")).mkString(",\n")
        val rng = s"range(1, ${sub + 1})"
        val parts = subs.map(j =>
          s"""  SELECT p.vec_id,
             |    list_sum(list_transform($rng, i -> (p.e[i]-c.c[i])*(p.e[i]-c.c[i]))) AS sq,
             |    list_sum(list_transform($rng, i -> p.e[i]*c.c[i])) AS dt,
             |    list_sum(list_transform($rng, i -> c.c[i]*c.c[i])) AS rn2
             |  FROM p$j p JOIN enc$j e ON e.vec_id = p.vec_id
             |    JOIN s${j}c$iters c ON c.cell = e.cell""".stripMargin)
          .mkString("\n  UNION ALL\n")
        s"""WITH $prepCte,
           |$preps,
           |$chains,
           |$encs,
           |tj AS (
           |$parts),
           |agg AS (SELECT vec_id, sum(sq) AS ssq, sum(dt) AS sdt, sum(rn2) AS srn
           |        FROM tj GROUP BY vec_id)
           |SELECT a.vec_id,
           |  ${stabSql("sqrt(a.ssq)")} AS l2_err,
           |  ${stabSql("a.sdt / (n.nrm * sqrt(a.srn))")} AS cos
           |FROM agg a JOIN n USING (vec_id) ORDER BY vec_id""".stripMargin
      }),

    // BATCH ANN routing, IVF tier: a query TABLE routed with zero driver
    // collects — centroid aggregation, probe routing, and the cell
    // equi-join all in one lazy plan (the corpus×corpus shape a semantic
    // dedup join needs; the *_indexed tiers instead collect probe ids for
    // partition pruning). Probe-2, same semantics as
    // knn_ivf_indexed, so the same SQL oracle hash-gates it; PlanShapeSpec
    // pins that building the plan runs no Spark job.
    GraftQuery("knn_ivf_batch",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopKBatch(emb, emb.filter(col("vec_id") < 10), 5, nprobe = 2)
          .select("query_id", "probe_label", "neighbor_id", "cos", "rank")
          .orderBy("query_id", "rank")
      },
      Some(knnIvfOracleN(2))),

    // BATCH ANN routing, PQ tier: knn_pq's query as a query TABLE. Both
    // run the one ADC stage (lookup tables built IN-PLAN from the
    // broadcast codebook table), so the SAME SQL oracle hash-gates both;
    // PlanShapeSpec pins the zero-job construction.
    GraftQuery("knn_pq_batch",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, d)
        Similarity.knnPqBatch(s, pqIndexDir(s, d), emb,
            emb.filter(col("vec_id") < 10), k = 5)
          .select("query_id", "neighbor_id", "cos", "rank")
          .orderBy("query_id", "rank")
      },
      Some(knnPqOracle(8, 16, 5, 8, 10, 5, 10))),

    // IVF-PQ, the production composition: coarse cells bound WHICH codes
    // are scored (probe-2 routing, in-plan), PQ codes bound the COST of
    // each score (in-plan LUTs), and the ADC stage is an EQUI-join of the
    // routed query side against the cell-keyed code table — the un-routed
    // PQ cross-join disappears (PlanShapeSpec pins no BNLJ anywhere).
    // Exact-cosine re-rank; hash-gated since round 11 (the PQ oracle with
    // the label-cell probe restriction — nprobe=2); SimilaritySpec pins
    // recall vs the exact probe-2 IVF and that every reported cosine is
    // true.
    GraftQuery("knn_ivfpq",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, d)
        // cell column joined from the source table — a deployment stores
        // it in the code table at encode time (metadata-scale join here)
        val codes = Similarity.pqCodesTable(s, pqIndexDir(s, d))
          .join(emb.select(col("vec_id"), col("label").as("cell")), "vec_id")
        Similarity.knnPqBatchFromCodes(emb, emb.filter(col("vec_id") < 10),
            codes, Similarity.indexTable(s, pqIndexDir(s, d), "codebooks"), nprobe = 2)
          .select("query_id", "neighbor_id", "cos", "rank")
          .orderBy("query_id", "rank")
      },
      Some(knnPqOracle(8, 16, 5, 8, 10, 5, 10, nprobe = 2))),

    // Learned-cell ANN: Lloyd k-means centroids (trained in-plan, every
    // step a DataFrame op), probe-2 routing, exact cosine inside probed
    // cells. HASH-GATED since round 11: the gated trainer (md5 seeds,
    // stab'd argmin/means) lets the oracle unroll all 5 Lloyd rounds as
    // CTEs; SimilaritySpec additionally pins recall@5 >= 0.8 vs knn_brute.
    GraftQuery("knn_ivf_kmeans",
      (s, d) => Similarity.knnIvfKmeans(Tables.embeddings(s, d), 10, 5)
        .select("query_id", "probe_cell", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank"),
      Some(knnKmeansOracle(8, 5, 10, 2, 5))),

    // Same semantics from the persisted layout: corpus parquet-partitioned
    // by learned cell, so probing = partition pruning at file-listing time.
    // Same oracle as knn_ivf_kmeans — the layout changes the physical
    // plan (partition pruning), never the rows.
    GraftQuery("knn_ivf_kmeans_indexed",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, d)
        val cells = Similarity.KmeansCells()
        val idx = ivfIndexDir(s, d, "ivfk-b2")(Similarity.buildIvfIndex(emb, _, cells))
        Similarity.ivfTopKIndexed(s, idx, cells, emb.filter(col("vec_id") < 10), 5)
          .select("query_id", "probe_cell", "neighbor_id", "cos", "rank")
          .orderBy("query_id", "rank")
      },
      Some(knnKmeansOracle(8, 5, 10, 2, 5)))
  )

  /** DuckDB twin of Similarity.cosinePairsLsh: derive the same ±1
    * hyperplanes from md5("j:i") parity, left-fold the same projections
    * (list_sum over index order — bitwise identical to ArrayDot since ±1
    * products are exact sign flips), pack the same band buckets, then
    * exact cosine on bucket-collision candidates.
    */
  /** The w → wl → pj → bits CTE chain deriving the sign-bit sketch —
    * shared by every LSH oracle (near-dup pairs and ANN top-k).
    */
  private def bitsCtes(nBits: Int, rowsPerBand: Int, dim: Int): String =
    s"""w AS (
       |  SELECT j, i,
       |    CASE WHEN CAST(CONCAT('0x', substring(md5(CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
       |         THEN 1.0 ELSE -1.0 END AS v
       |  FROM range(0, $nBits) t1(j), range(1, ${dim + 1}) t2(i)),
       |wl AS (SELECT j, list(v ORDER BY i) AS wv FROM w GROUP BY j),
       |pj AS (
       |  SELECT n.vec_id, wl.j,
       |    list_sum(list_transform(range(1, ${dim + 1}), i -> n.e[i] * wl.wv[i])) AS proj
       |  FROM n, wl),
       |bits AS (
       |  SELECT vec_id, CAST(j // $rowsPerBand AS INT) AS band,
       |    sum(CASE WHEN proj >= 0 THEN 1 << (j % $rowsPerBand) ELSE 0 END) AS bh
       |  FROM pj GROUP BY 1, 2)""".stripMargin

  def lshPairSql(nBits: Int, rowsPerBand: Int, dim: Int, threshold: Double): String =
    s"""WITH $prepCte,
       |${bitsCtes(nBits, rowsPerBand, dim)},
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
       |  FROM bits x JOIN bits y
       |    ON x.band = y.band AND x.bh = y.bh AND x.vec_id < y.vec_id)
       |SELECT c.va AS vec_a, c.vb AS vec_b, ${cosSql("a", "b")} AS cos
       |FROM cand c JOIN n a ON c.va = a.vec_id JOIN n b ON c.vb = b.vec_id
       |WHERE ${cosSql("a", "b")} >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** DuckDB twin of Similarity.knnLshFrom: same sketch derivation as
    * lshPairSql, candidates = sign-bucket collisions with a query vector,
    * exact cosine + row_number top-k.
    */
  def knnLshOracle(nBits: Int, rowsPerBand: Int, dim: Int,
                   nQueries: Int, k: Int): String =
    s"""WITH $prepCte,
       |${bitsCtes(nBits, rowsPerBand, dim)},
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
       |  FROM bits x JOIN bits y
       |    ON x.band = y.band AND x.bh = y.bh AND x.vec_id <> y.vec_id
       |  WHERE x.vec_id < $nQueries),
       |c AS (
       |  SELECT cand.query_id, cand.neighbor_id, ${cosSql("a", "b")} AS cos
       |  FROM cand JOIN n a ON cand.query_id = a.vec_id
       |            JOIN n b ON cand.neighbor_id = b.vec_id),
       |${rankCte("r", "query_id, neighbor_id, cos", "c")}
       |SELECT query_id, neighbor_id, cos, rank FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** IVF ANN oracle, parameterized by probe width: rn <= nprobe routes
    * each query to its nprobe best cells (nprobe=1 ≡ the probe-1 form —
    * shared by knn_ivf; knn_ivf_indexed uses nprobe=2). Cells partition
    * the corpus, so a neighbor joins at most one probe row per query —
    * no dedup needed, mirroring the Spark plan.
    */
  def knnIvfOracleN(nprobe: Int): String =
    s"""WITH $prepCte,
           |${labelRouteCtes(10, nprobe, stabLit)},
           |cell AS (SELECT em.vec_id, em.label, n.e, n.nrm
           |         FROM embeddings em JOIN n ON em.vec_id = n.vec_id),
           |c AS (
           |  SELECT a.vec_id AS query_id, probes.probe_label, b.vec_id AS neighbor_id,
           |         ${cosSql("a", "b")} AS cos
           |  FROM n a
           |    JOIN probes ON probes.query_id = a.vec_id
           |    JOIN cell b ON b.label = probes.probe_label AND b.vec_id <> a.vec_id),
           |${rankCte("r", "query_id, probe_label, neighbor_id, cos", "c")}
           |SELECT query_id, probe_label, neighbor_id, cos, rank FROM r
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  lazy val knnIvfOracle: String = knnIvfOracleN(1)

  // -------------------------------------------------------------------
  // Gated k-means / PQ oracles (round 11): the serving trainer
  // (Similarity.kmeansCentroidsPrepared) is value-identical to a
  // fixed-round SQL unroll — md5-ordered seeds, stab(6) squared-euclid
  // argmin with ties to the lower cell, stab(6) per-dim means (the
  // SemDedup discipline applied to the Lloyd trainer) — so the kmeans-IVF
  // and PQ tiers carry full DuckDB oracles: the SQL re-trains the
  // centroids/codebooks, re-encodes the corpus, and re-runs the
  // probe/ADC/re-rank arithmetic with identical fold orders. Early stop
  // on the Spark side is safe under the fixed-round unroll: a converged
  // round is a fixed point of (assign, update), so extra SQL rounds
  // reproduce the same centroids.
  // -------------------------------------------------------------------

  private def stabSql(x: String): String =
    s"floor(($x)*1000000.0+0.5)/1000000.0"

  /** stab(6) squared-euclid distance (c·c − 2·e·c) between row alias `s`
    * (list col e) and centroid alias `c` (list col c) — the SQL twin of
    * Similarity.argminCell's quantized metric (cc folds left-to-right in
    * both engines; the e·c dot folds in index order).
    */
  private def distSql(s: String, c: String): String =
    stabSql(s"list_sum(list_transform($c.c, x -> x*x)) - " +
      s"2.0*list_sum(list_transform(range(1, len($s.e)+1), i -> $s.e[i]*$c.c[i]))")

  /** One stab'd-argmin assignment CTE `name`: each row of `src` (vec_id,
    * e) to its nearest centroid in `cent` (cell, c), ties to the lower
    * cell id. Output (vec_id, cell).
    */
  private def kmAssignCte(name: String, src: String, cent: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT s.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY s.vec_id ORDER BY ${distSql("s", "c")} ASC, c.cell ASC) AS rn
       |    FROM $src s, $cent c) WHERE rn = 1)""".stripMargin

  /** The gated Lloyd chain over `src` (vec_id, e): seeds `{p}c0` = first
    * k rows in (md5(vec_id), vec_id) order, then `iters` assign/update
    * rounds ending at `{p}c{iters}`. MATERIALIZED like the SemDedup
    * chain — each round's tables are referenced twice downstream.
    */
  private def kmeansChain(p: String, src: String, k: Int, iters: Int): String = {
    val seed =
      s"""${p}c0 AS MATERIALIZED (
         |  SELECT CAST(rn - 1 AS INTEGER) AS cell, e AS c FROM (
         |    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn, e
         |    FROM $src) WHERE rn <= $k)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""${kmAssignCte(s"${p}a$r", src, s"${p}c${r - 1}")},
         |${p}c$r AS MATERIALIZED (
         |  SELECT cell, list(cd ORDER BY i) AS c FROM (
         |    SELECT a.cell, t.i, ${stabSql("avg(s.e[t.i])")} AS cd
         |    FROM ${p}a$r a JOIN $src s ON s.vec_id = a.vec_id,
         |         unnest(range(1, len(s.e)+1)) t(i)
         |    GROUP BY a.cell, t.i) GROUP BY cell)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  /** Oracle for the learned-cell IVF tiers (knn_ivf_kmeans and its
    * persisted-layout twin): train kCells centroids in `iters` gated
    * rounds, assign the corpus, route each query to its `nprobe` nearest
    * cells by the same stab'd distance, exact stab'd cosine top-k inside
    * probed cells (cells partition the corpus — no dedup needed).
    */
  def knnKmeansOracle(kCells: Int, iters: Int, nQueries: Int,
                      nprobe: Int, k: Int): String =
    s"""WITH $prepCte,
       |${kmeansChain("km", "n", kCells, iters)},
       |${kmAssignCte("kaf", "n", s"kmc$iters")},
       |kprobes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT s.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY s.vec_id ORDER BY ${distSql("s", "c")} ASC, c.cell ASC) AS rn
       |    FROM n s, kmc$iters c WHERE s.vec_id < $nQueries) WHERE rn <= $nprobe),
       |kcells AS (SELECT a.vec_id, a.cell, n.e, n.nrm FROM kaf a JOIN n ON n.vec_id = a.vec_id),
       |cand AS (
       |  SELECT a.vec_id AS query_id, p.cell AS probe_cell, b.vec_id AS neighbor_id,
       |    ${cosSql("a", "b")} AS cos
       |  FROM n a JOIN kprobes p ON p.query_id = a.vec_id
       |  JOIN kcells b ON b.cell = p.cell AND b.vec_id <> a.vec_id),
       |${rankCte("r", "query_id, probe_cell, neighbor_id, cos", "cand")}
       |SELECT query_id, probe_cell, neighbor_id, cos, rank FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Oracle for the PQ tiers: m per-subspace gated trainings (the j-th
    * over `e[j·sub+1 : (j+1)·sub]`), stab'd-argmin encode, per-query ADC
    * lookup rows (raw subvector·centroid dots — identical fold order to
    * the in-plan LUTs), the m-term ADC fold re-assembled in j order
    * (`list_sum(list(d ORDER BY j))` ≡ the left-fold `aggregate` with 0.0
    * seed), stab'd adc_cos shortlist, and the exact stab'd-cosine
    * re-rank. With `nprobe` > 0 the candidate set is first restricted to
    * the query's `nprobe` best LABEL cells (the IVF-PQ composition — the
    * label router CTEs of knnIvfOracleN).
    */
  def knnPqOracle(m: Int, kCodes: Int, iters: Int, sub: Int,
                  nQueries: Int, k: Int, shortlist: Int,
                  nprobe: Int = 0): String = {
    val subs = 0 until m
    val preps = subs.map(j =>
      s"p$j AS MATERIALIZED (SELECT vec_id, e[${j * sub + 1}:${j * sub + sub}] AS e FROM n)")
      .mkString(",\n")
    val chains = subs.map(j => kmeansChain(s"s$j", s"p$j", kCodes, iters)).mkString(",\n")
    val encs = subs.map(j => kmAssignCte(s"enc$j", s"p$j", s"s${j}c$iters")).mkString(",\n")
    val luts = subs.map(j =>
      s"""lut$j AS MATERIALIZED (
         |  SELECT s.vec_id AS query_id, c.cell AS code,
         |    list_sum(list_transform(range(1, ${sub + 1}), i -> s.e[i]*c.c[i])) AS d
         |  FROM p$j s, s${j}c$iters c WHERE s.vec_id < $nQueries)""".stripMargin)
      .mkString(",\n")
    val parts = subs.map(j =>
      s"  SELECT $j AS j, e.vec_id, l.query_id, l.d FROM enc$j e JOIN lut$j l ON l.code = e.cell")
      .mkString("\n  UNION ALL\n")
    val routeCtes = if (nprobe <= 0) "" else
      ",\n" + labelRouteCtes(nQueries, nprobe, stabSql)
    val routeJoin = if (nprobe <= 0) "" else
      s"""
         |  JOIN embeddings em ON em.vec_id = a.vec_id
         |  JOIN probes pr ON pr.query_id = a.query_id AND pr.probe_label = em.label""".stripMargin
    s"""WITH $prepCte,
       |$preps,
       |$chains,
       |$encs,
       |$luts$routeCtes,
       |ap AS (
       |$parts),
       |adc AS (
       |  SELECT a.query_id, a.vec_id AS neighbor_id,
       |    ${stabSql("list_sum(list(a.d ORDER BY a.j)) / n.nrm")} AS adc_cos
       |  FROM ap a JOIN n ON n.vec_id = a.vec_id$routeJoin
       |  WHERE a.query_id <> a.vec_id
       |  GROUP BY a.query_id, a.vec_id, n.nrm),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS rnk
       |    FROM adc) WHERE rnk <= ${shortlist * k}),
       |cand AS (
       |  SELECT s.query_id, s.neighbor_id, ${cosSql("a", "b")} AS cos
       |  FROM short s JOIN n a ON a.vec_id = s.query_id JOIN n b ON b.vec_id = s.neighbor_id),
       |${rankCte("r", "query_id, neighbor_id, cos", "cand")}
       |SELECT query_id, neighbor_id, cos, rank FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }
}
