package graft.queries

import graft.GraftQuery
import graft.operators.SemDedup
import graft.sources.Tables

/** SemDeDup under the value-identical gate: the oracle unrolls the gated
  * Lloyd rounds as CTEs (seeds → assign → per-dim stab(6) means, ×3, then
  * the final assignment and the within-cell pair join). MATERIALIZED for
  * the same reason as the BPE chain: each round's tables are referenced
  * twice downstream and would re-inline exponentially.
  */
object SemDedupQueries {

  val K = 8
  val Iters = 3
  val Threshold = 0.45
  val PerCell = 25
  val IncThreshold = 0.40

  /** stab(6) cosine between a row alias with (e, nrm) and a centroid
    * alias with (c, cnrm).
    */
  private def cosC(a: String, c: String): String =
    s"floor(list_sum(list_transform(range(1, len($a.e)+1), i -> $a.e[i]*$c.c[i]))" +
      s"/($a.nrm*$c.cnrm)*1000000.0+0.5)/1000000.0"

  /** One assignment CTE `name` of corpus alias `src` against centroids
    * `cent`: argmax stab(6) cosine, ties to the lower cell id.
    */
  private def assignCte(name: String, cent: String, src: String = "n"): String =
    s"""$name AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT $src.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY $src.vec_id ORDER BY ${cosC(src, "c")} DESC, c.cell ASC) AS rn
       |    FROM $src, $cent c) WHERE rn = 1)""".stripMargin

  /** The full trainer chain over corpus CTE `src`: md5-ordered seeds,
    * Iters gated Lloyd rounds, final assignment `af`, pair side `s`.
    * (Callers prepend SimilarityQueries.prepCte and, when `src != "n"`,
    * the CTE that defines `src`.)
    */
  def chainCtesOn(src: String): String = {
    val head =
      s"""seed AS MATERIALIZED (
         |  SELECT CAST(rn - 1 AS INTEGER) AS cell, e FROM (
         |    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn, e FROM $src) WHERE rn <= $K),
         |c0 AS MATERIALIZED (SELECT cell, e AS c, sqrt(list_sum(list_transform(e, x -> x*x))) AS cnrm FROM seed)""".stripMargin
    val rounds = (1 to Iters).map { r =>
      s"""${assignCte(s"a$r", s"c${r - 1}", src)},
         |c$r AS MATERIALIZED (
         |  SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cnrm FROM (
         |    SELECT cell, list(cd ORDER BY i) AS c FROM (
         |      SELECT a.cell, t.i, floor(avg($src.e[t.i])*1000000.0+0.5)/1000000.0 AS cd
         |      FROM a$r a JOIN $src ON $src.vec_id = a.vec_id, unnest(range(1, len($src.e)+1)) t(i)
         |      GROUP BY a.cell, t.i) GROUP BY cell))""".stripMargin
    }
    val tail =
      s"""${assignCte("af", s"c$Iters", src)},
         |s AS (SELECT a.vec_id, a.cell, $src.e, $src.nrm FROM af a JOIN $src ON $src.vec_id = a.vec_id)""".stripMargin
    (head +: rounds :+ tail).mkString(",\n")
  }

  /** The whole-corpus chain the three core semantic oracles use. */
  def chainCtes: String =
    s"${SimilarityQueries.prepCte},\n${chainCtesOn("n")}"

  def all: Seq[GraftQuery] = Seq(

    // Within-cluster near-duplicate pairs — the SemDeDup candidate set,
    // hash-matched end to end THROUGH the iterative trainer.
    GraftQuery("dedup_semantic",
      (s, d) => SemDedup.pairs(Tables.embeddings(s, d), Threshold, K, Iters)
        .orderBy("vec_a", "vec_b"),
      Some {
        val pc = SimilarityQueries.cosSql("x", "y")
        s"""WITH $chainCtes
           |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cell AS cell, $pc AS cos
           |FROM s x JOIN s y ON x.cell = y.cell AND x.vec_id < y.vec_id
           |WHERE $pc >= $Threshold ORDER BY vec_a, vec_b""".stripMargin
      }),

    // The pair stage with AUTOMATIC plain-vs-salted routing (round 16):
    // a k-row cell-histogram probe picks the triangle-salt decomposition
    // when one cell owns >= 40 % of the candidate mass (the degenerate
    // boilerplate-collapse regime, measured 4.4x on the planted fixture
    // in BASELINE.md "Round-15 measured facts") and the plain cell-keyed
    // join otherwise. Output
    // is tier-invariant (SemDedupSpec pins the tiers equal), so the auto
    // form shares the plain form's oracle — on THIS corpus (balanced,
    // head share ~1/k) it must route plain, which the spec also pins.
    GraftQuery("dedup_semantic_auto",
      (s, d) => SemDedup.pairsAuto(Tables.embeddings(s, d), Threshold, K, Iters)
        .orderBy("vec_a", "vec_b"),
      Some {
        val pc = SimilarityQueries.cosSql("x", "y")
        s"""WITH $chainCtes
           |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cell AS cell, $pc AS cos
           |FROM s x JOIN s y ON x.cell = y.cell AND x.vec_id < y.vec_id
           |WHERE $pc >= $Threshold ORDER BY vec_a, vec_b""".stripMargin
      }),

    // The actionable output: near-dup groups via label propagation over
    // the semantic pairs, one keeper per group (lowest centroid cosine —
    // the paper's diversity-preserving rule). keep=false rows are the
    // prune list. The oracle adds the recursive label closure on top of
    // the trainer chain (components are near-dup groups — a handful of
    // members each, so the closure is tiny at any SF).
    GraftQuery("dedup_semantic_keep",
      (s, d) => SemDedup.keep(Tables.embeddings(s, d), Threshold, K, Iters)
        .orderBy("component", "vec_id"),
      Some {
        val pc = SimilarityQueries.cosSql("x", "y")
        s"""WITH RECURSIVE $chainCtes,
           |pr AS (
           |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
           |  FROM s x JOIN s y ON x.cell = y.cell AND x.vec_id < y.vec_id
           |  WHERE $pc >= $Threshold),
           |p AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM pr),
           |${DedupQueries.ccCtes},
           |comp AS (SELECT node AS vec_id, min(label) AS component FROM lbl GROUP BY node),
           |cc AS (
           |  SELECT c.vec_id, c.component, ${cosC("s", "ct")} AS ccos
           |  FROM comp c JOIN s ON s.vec_id = c.vec_id JOIN c$Iters ct ON ct.cell = s.cell),
           |r AS (SELECT vec_id, component, ccos,
           |        row_number() OVER (PARTITION BY component ORDER BY ccos, vec_id) AS rn
           |      FROM cc)
           |SELECT vec_id, component, ccos, (rn = 1) AS keep
           |FROM r ORDER BY component, vec_id""".stripMargin
      }),

    // The cluster assignment itself — cluster cardinality is the quantity
    // SemDeDup's cost model runs on (Σ|cell|² candidate bound), and the
    // gate on it pins every trainer round transitively.
    GraftQuery("dedup_semantic_cells",
      (s, d) => {
        import org.apache.spark.sql.functions._
        SemDedup.cells(Tables.embeddings(s, d), K, Iters)
          .groupBy("cell").agg(count(lit(1)).as("members"))
          .orderBy("cell")
      },
      Some(
        s"""WITH $chainCtes
           |SELECT cell, CAST(count(*) AS BIGINT) AS members
           |FROM af GROUP BY cell ORDER BY cell""".stripMargin)),

    // Incremental SemDeDup — the snapshot ingest path: cells trained on
    // the EXISTING corpus (vec_id % 10 ≠ 0), the arriving batch assigned
    // to those fixed centroids, new×old pairs within cells only. The
    // oracle replays the old-only trainer and the fixed-centroid
    // assignment of the batch, so the whole ingest decision is
    // hash-gated like the batch trainer.
    GraftQuery("dedup_semantic_incremental",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, d)
        SemDedup.incrementalPairs(
            emb.filter(col("vec_id") % 10 =!= 0),
            emb.filter(col("vec_id") % 10 === 0),
            IncThreshold, K, Iters)
          .orderBy("new_vec", "old_vec")
      },
      Some {
        val pc = SimilarityQueries.cosSql("x", "y")
        s"""WITH ${SimilarityQueries.prepCte},
           |no AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
           |${chainCtesOn("no")},
           |nw AS (SELECT * FROM n WHERE vec_id % 10 = 0),
           |${assignCte("na", s"c$Iters", "nw")},
           |x0 AS (SELECT a.vec_id, a.cell, nw.e, nw.nrm FROM na a JOIN nw ON nw.vec_id = a.vec_id)
           |SELECT x.vec_id AS new_vec, y.vec_id AS old_vec, x.cell AS cell, $pc AS cos
           |FROM x0 x JOIN s y ON x.cell = y.cell
           |WHERE $pc >= $IncThreshold ORDER BY new_vec, old_vec""".stripMargin
      }),

    // Cluster-balanced sample — equal per-cell budgets over the gated
    // k-means cells with a deterministic (md5, id) rank: the
    // density-aware curation pick (D4-style), hash-gated THROUGH the
    // trainer like the other semantic queries.
    GraftQuery("emb_cluster_sample",
      (s, d) => SemDedup.clusterSample(Tables.embeddings(s, d), PerCell, K, Iters)
        .orderBy("cell", "rn"),
      Some(
        s"""WITH $chainCtes
           |SELECT cell, rn, vec_id FROM (
           |  SELECT cell, vec_id,
           |    row_number() OVER (PARTITION BY cell
           |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
           |  FROM af)
           |WHERE rn <= $PerCell ORDER BY cell, rn""".stripMargin))
  )
}
