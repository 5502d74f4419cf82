package graft.operators

import graft.functions.{ArrayMeanAgg, Stable}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{graftglue, Column, DataFrame}

/** Similarity search over an embedding column (ARRAY<FLOAT>).
  *
  * Every kNN tier is one composition of four shared steps: route (the
  * label or k-means router, `Cells.route`, both returning (query_id,
  * cell)), candidates (all vectors, the probed cells' members, or LSH
  * bucket collisions), score (exact cosine, or a PQ ADC shortlist then an
  * exact rerank) and one per-query top-k (`Ranks.perQueryTopK`). Brute
  * force is the baseline: broadcast the query set, scan the corpus once.
  * The scale path is IVF: vectors partitioned into coarse cells, each
  * query scored only inside its probed cells — at 100 TB a 1/K-th scan
  * instead of a full one. Persisted, the IVF layout (`cells` partitioned by cell, plus
  * `centroids`) turns probing into partition pruning; the PQ layout
  * (`codes`, `codebooks`) stores codes instead of vectors.
  *
  * All arithmetic is promoted FLOAT→DOUBLE before accumulation, folded
  * left-to-right by `aggregate` (deterministic), and cosine values are
  * collapsed with Stable.stab so the DuckDB oracle hash-matches.
  */
object Similarity {

  /** Element-wise double-promoted copy of an ARRAY<FLOAT> column. */
  def toDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Left-fold dot product of two ARRAY<DOUBLE> columns — the codegen'd
    * ArrayDot expression, fold-order-identical to the interpreted
    * `aggregate(zip_with(...))` formulation it replaces (see ArrayDot doc).
    */
  def dot(a: Column, b: Column): Column =
    graftglue.column(graft.functions.ArrayDot(graftglue.expression(a), graftglue.expression(b)))

  /** L2 norm of an ARRAY<DOUBLE> column (same fold order as acc + x*x). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** stab(6)-stabilized element-wise mean of ARRAY<DOUBLE> groups — the
    * k-means centroid update (see ArrayMeanAgg).
    */
  private val arrayMean = udaf(new ArrayMeanAgg(6),
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())

  /** (vec_id, e ARRAY<DOUBLE>, nrm) from an embeddings table. */
  def prepared(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))

  /** Stabilized cosine between prepared sides a/b (columns e, nrm). */
  def cosine(digits: Int = 6): Column =
    Stable.stab(dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), digits)

  /** Semantic decontamination: corpus vectors whose max cosine against
    * any EVAL vector reaches `threshold` — the embedding-space sibling of
    * the n-gram decontaminate family (an eval answer paraphrased into
    * training data has no shingle overlap but a near-identical
    * embedding). Eval sets are bounded by construction (benchmark suites
    * are thousands of rows, not corpora), so the right scale shape is the
    * knn_pq_batch contract: broadcast the eval side and stream the corpus
    * through ONE narrow pass — a bounded-side BroadcastNestedLoopJoin,
    * linear in the corpus, no shuffle until the per-vector max (which is
    * a partial-aggregating groupBy on vec_id, already co-partitioned with
    * nothing — one exchange of |corpus| skinny rows).
    *
    * `evalBound` marks vec_id < evalBound as the eval suite (the
    * text_decontaminate convention); output is the contamination list
    * (vec_id, max_cos) at stab(6).
    */
  def evalContamination(embeddings: DataFrame, evalBound: Long,
                        threshold: Double): DataFrame = {
    val p = prepared(embeddings)
    contaminationAgainst(p.filter(col("vec_id") >= evalBound),
      p.filter(col("vec_id") < evalBound), threshold)
  }

  /** The contamination core, on prepared sides: corpus rows (vec_id, e,
    * nrm) whose max stab(6) cosine against any eval row reaches the
    * threshold. Per-vector and stateless — each verdict depends only on
    * the vector and the (fixed) eval set — which is what makes the
    * streaming twin (VectorStreams.contaminationIngest) exactly equal to
    * the batch gate on any prefix.
    */
  def contaminationAgainst(corpus: DataFrame, evalSet: DataFrame,
                           threshold: Double): DataFrame = {
    val ev = evalSet.select(col("e").as("ee"), col("nrm").as("enrm"))
    corpus.crossJoin(broadcast(ev))
      .select(col("vec_id"),
        Stable.stab(dot(col("e"), col("ee")) / (col("nrm") * col("enrm")), 6).as("cos"))
      .groupBy("vec_id").agg(max("cos").as("max_cos"))
      .filter(col("max_cos") >= threshold)
  }

  /** Near-duplicate pairs: all (a < b) with cosine >= threshold. O(n²) —
    * the exact-verify twin; the scale path is cosinePairsLsh below.
    */
  def cosinePairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val p = prepared(embeddings)
    p.as("a").join(p.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine().as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Deterministic Rademacher hyperplanes for sign-bit LSH: w(j)(i) = ±1
    * from the parity of a 60-bit slice of md5("j:i") — the exact digest
    * arithmetic the DuckDB oracle replays, so both engines derive
    * bit-identical planes. Metadata-scale (nBits×dim doubles), computed
    * driver-side once and embedded as plan literals.
    */
  def hyperplanes(nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (j, i0) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$j:${i0 + 1}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1.0 else -1.0
    }

  /** Sign-bit band rows (vec_id, band, bh): bh packs rowsPerBand sign bits
    * of hyperplane projections. ±1 weights make each product an exact sign
    * flip of an exactly-representable double, so the left-fold projection
    * is bitwise identical across engines — the `>= 0` comparison never
    * sits on a rounding boundary and needs no stabilizer.
    *
    * The planes ride as a broadcast TABLE (nBits rows), not as plan
    * literals: a crossJoin + one codegen'd ArrayDot + a map-side-combined
    * hash aggregate keeps the plan O(1) in nBits — embedding 1024
    * projections as 1024 literal-array expressions made the optimizer and
    * codegen the dominant cost (measured ~20 s/run at sf0.1 vs ~1 s for
    * this shape).
    */
  private def signBandRows(p: DataFrame, planes: Array[Array[Double]],
                           rowsPerBand: Int): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val w = planes.toSeq.zipWithIndex.map { case (arr, j) => (j, arr.toSeq) }
      .toDF("j", "w")
    // explode a literal j-range (narrow), then equi-join the broadcast
    // plane table — a BroadcastHashJoin, so the whole plan stays free of
    // nested-loop joins (a crossJoin here would plan as BNLJ)
    p.select(col("vec_id"), col("e"),
        explode(typedLit(planes.indices.toList)).as("j"))
      .join(broadcast(w), "j")
      .select(col("vec_id"), (col("j") / rowsPerBand).cast("int").as("band"),
        when(dot(col("e"), col("w")) >= 0,
          expr(s"shiftleft(1, j % $rowsPerBand)")).otherwise(lit(0))
          .as("bit"))
      .groupBy("vec_id", "band").agg(sum("bit").as("bh"))
  }

  /** Blocked near-duplicate pairs — the scale path for cosinePairs: docs
    * sharing any (band, bh) sign-bucket become candidates (a shuffle
    * EQUI-join, never a nested loop), then exact cosine keeps candidates
    * over the threshold. Same candidates→verify shape as the text
    * MinHash-LSH path. At 128 bands × 8 bits (1024 planes, measured
    * against the exact twin) the bucket join carries EVERY true pair at
    * the 0.45 working threshold on both test corpora — recall 1.0 with
    * ~2.4× fewer comparisons. cos 0.45 ≈ bit-agreement 0.65 is an
    * intrinsically hard LSH regime, hence the wide-OR banding and modest
    * reduction; at a production near-dup threshold (cos ≥ 0.9, agreement
    * 0.86) the same 8-bit bands hit per-band collision 0.29, so a handful
    * of bands give recall ~1 and the reduction is orders of magnitude.
    * The plan stays linear-scan + equi-join at any corpus size.
    */
  def cosinePairsLsh(embeddings: DataFrame, threshold: Double,
                     nBits: Int = 1024, rowsPerBand: Int = 8,
                     dim: Int = 64): DataFrame =
    cosinePairsLshFrom(embeddings,
      embeddingBands(embeddings, nBits, rowsPerBand, dim), threshold)

  /** The (vec_id, band, bh) LSH sketch of an embeddings table — a pure
    * corpus function a pipeline persists next to the vectors (it's the
    * expensive stage: nBits projections per vector).
    */
  def embeddingBands(embeddings: DataFrame, nBits: Int = 1024,
                     rowsPerBand: Int = 8, dim: Int = 64): DataFrame =
    signBandRows(prepared(embeddings).select("vec_id", "e"),
      hyperplanes(nBits, dim), rowsPerBand)

  /** Candidates from a (pre-built) band-row sketch, exact-cosine verified
    * against the vectors.
    */
  def cosinePairsLshFrom(embeddings: DataFrame, br: DataFrame,
                         threshold: Double): DataFrame = {
    val p = prepared(embeddings)
    val cand = br.as("x").join(br.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand.join(p.as("a"), col("vec_a") === col("a.vec_id"))
      .join(p.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"), cosine().as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ---------------------------------------------------------------------
  // kNN: every tier is route → candidates → score → one per-query top-k.
  // The routers (label, k-means) return (query_id, cell); candidates are
  // all vectors, the probed cells' members, or LSH bucket collisions; the
  // score is exact stab(6) cosine, or an ADC shortlist then an exact
  // rerank; and `Ranks.perQueryTopK` is the one top-k under all of them.
  // ---------------------------------------------------------------------

  /** Prepared rows as a query side: vec_id renamed query_id. */
  private def asQueries(p: DataFrame): DataFrame = p.withColumnRenamed("vec_id", "query_id")

  /** The exact stage: join the query side `a` (query_id, e, nrm, …) to the
    * candidate vectors `b` (vec_id, e, nrm) on `on`, score each pair by
    * stab(6) cosine and keep each query's top k. `keep` adds `a`-side
    * columns (the probed cell) to the (query_id, neighbor_id, cos, rank)
    * output.
    */
  private def exactTopK(qside: DataFrame, corpus: DataFrame, on: Column, k: Int,
                        keep: Column*): DataFrame =
    Ranks.perQueryTopK(qside.as("a").join(corpus.as("b"), on)
      .select((col("a.query_id") +: keep) ++
        Seq(col("b.vec_id").as("neighbor_id"), cosine().as("cos")): _*), k)

  /** LSH-bucketed ANN top-k — the sign-bit scale path beside IVF: a corpus
    * vector is a candidate iff it shares at least one (band, bh) sign-bucket
    * with the query in the pre-built sketch `br`; the exact stage then ranks
    * candidates. The query-side band rows (nQueries × bands —
    * metadata-scale) broadcast into an equi-join against the corpus
    * sketch, so the plan is broadcast-join + distinct + two vec_id
    * equi-joins: linear in the corpus at any size, no nested loop anywhere,
    * and only candidate vectors ever reach the ArrayDot cosine. Unlike IVF
    * there is no routing step to keep consistent with the layout — the
    * sketch is a pure corpus function, so streamed appends need no
    * centroid-generation discipline. Deterministic end-to-end (md5-parity
    * planes), hence SQL-oracle-able.
    */
  def knnLshFrom(embeddings: DataFrame, br: DataFrame, nQueries: Int,
                 k: Int): DataFrame = {
    val p = prepared(embeddings)
    val cand = broadcast(br.filter(col("vec_id") < nQueries)).as("x")
      .join(br.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("query_id"), col("y.vec_id").as("neighbor_id"))
      .distinct()
    exactTopK(cand.join(broadcast(asQueries(p.filter(col("vec_id") < nQueries))), "query_id"),
      p, col("a.neighbor_id") === col("b.vec_id"), k)
  }

  /** Brute-force top-k: for each query vector (vec_id < nQueries), the k
    * nearest other vectors by cosine. The tiny query side is broadcast; the
    * corpus side streams.
    */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    bruteForcePrepared(prepared(embeddings), nQueries, k)

  /** Brute force over already-prepared vectors (vec_id, e, nrm) — also the
    * SQ8 tier's, over dequantized vectors.
    */
  def bruteForcePrepared(p: DataFrame, nQueries: Int, k: Int): DataFrame =
    exactTopK(broadcast(asQueries(p.filter(col("vec_id") < nQueries))), p,
      col("a.query_id") =!= col("b.vec_id"), k)

  /** Offline ANN quality evaluation — recall of an approximate tier
    * against the exact ground truth, per query: |approx ∩ exact| / |exact|
    * over (query_id, neighbor_id) id sets. The offline job every ANN
    * deployment runs per index build (`search_eval`'s role, for vectors).
    * Both inputs are (|queries|·k)-row top-k tables, so the left join and
    * rollup here are metadata-sized regardless of corpus scale — the cost
    * lives in producing the inputs, which stay one composed plan each.
    */
  def annRecall(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("h")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("h"), lit(0L))).as("n_hit"),
        count(lit(1)).as("k_eval"))
      .select(col("query_id"), col("n_hit"), col("k_eval"),
        (col("n_hit").cast("double") / col("k_eval")).as("recall"))

  /** Embedding-quality QA: each vector's cosine to its own label's
    * centroid, bottom-k per label — the mislabeled/outlier candidates a
    * pipeline reviews before training on the labels. Centroids are the
    * per-label stab(6) means the label-cell IVF tiers route by
    * ([[LabelCells]]), one array per label (labels-count rows, broadcast),
    * so the affinity pass is one ROW-LOCAL ArrayDot over the corpus — one
    * aggregate + one broadcast join, nothing quadratic, and
    * WindowGroupLimit prunes the per-label bottom-k. cos(v, mean) needs no
    * count: the centroid IS the mean, joined whole.
    */
  def labelOutliers(embeddings: DataFrame, k: Int): DataFrame = {
    val cent = LabelCells.centroids(embeddings)
      .select(col("cell").as("label"), col("c").as("cv"))
    val w = Window.partitionBy("label").orderBy(asc("cos"), asc("vec_id"))
    embeddings.select(col("vec_id"), col("label"), toDouble(col("embedding")).as("e"))
      .join(broadcast(cent), "label")
      .select(col("label"), col("vec_id"),
        Stable.stab(dot(col("e"), col("cv")) /
          (norm(col("e")) * norm(col("cv"))), 6).as("cos"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("label", "rn", "vec_id", "cos")
  }

  // ---------------------------------------------------------------------
  // Learned IVF cells: Lloyd k-means as DataFrame ops.
  // ---------------------------------------------------------------------

  /** Row-local argmin over the k centroids, inlined as literal-array
    * expressions: for each centroid, d = c·c − 2e·c (the e·e term is
    * constant per vector and dropped; c·c is folded driver-side in the
    * same left-to-right order ArrayDot uses, so the value is
    * bit-identical to the in-plan form), then array_min over (d, cell)
    * structs — lexicographic, so the argmin is deterministic (min
    * distance, then min cell on ties). k×dim doubles of literals is
    * metadata-scale (nothing like the 1024-plane case where literal
    * embedding made the optimizer the bottleneck); in exchange the
    * assignment is a NARROW projection — the previous crossJoin-by-k +
    * groupBy(vec_id) formulation shuffled the whole k×-exploded corpus
    * once per call (and once per Lloyd round).
    *
    * The distance is stab(6)-collapsed before the argmin (the SemDedup
    * gate discipline): cc folds driver-side left-to-right — the same
    * order as DuckDB's `list_sum(list_transform(c, x -> x*x))` — and the
    * e·c dot folds in index order in both engines, so the quantized d
    * agrees bit-for-bit and the oracle re-derives the same winning cell
    * (ties fall through to the lower cell id in both).
    */
  private def argminCell(e: Column, cent: Seq[(Int, Seq[Double])]): Column =
    array_min(array(cent.map { case (cell, c) =>
      val cc = c.foldLeft(0.0)((a, x) => a + x * x)
      struct(Stable.stab(lit(cc) - lit(2.0) * dot(e, typedLit(c)), 6).as("d"),
        lit(cell).as("cell"))
    }: _*))

  /** Append to `p` (vec_id, e, …) the `cell` of each vector's nearest
    * centroid in `cent` (cell, c) by squared euclidean distance. The
    * centroid table is k rows — collected here (metadata-bounded, the same
    * k×dim the trainer itself collects every round) and inlined, so the
    * assignment is one narrow projection with zero joins and zero shuffles.
    */
  def kmeansAssign(p: DataFrame, cent: DataFrame): DataFrame = {
    val cs = cent.select("cell", "c").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    p.withColumn("cell", argminCell(col("e"), cs).getField("cell"))
  }

  /** Lloyd k-means over the embedding column: k deterministic md5-sampled
    * seeds, then `iters` rounds of assign + per-dimension mean — every step
    * a DataFrame op (the corpus is never collected; per-round state is the
    * k×dim centroid table, localCheckpoint'ed so loop plans stay O(1) —
    * see Dedup.clusters for why caching alone doesn't cut planner time).
    * Centroid means are floor-stabilized so results don't wobble with
    * aggregation order. A cell that loses all members drops out (standard
    * Lloyd behavior; routing simply never probes it).
    * Returns (cell INT 0..k-1, c ARRAY<DOUBLE>).
    *
    * GATED (round 11): every round is value-identical to a DuckDB SQL
    * unroll — md5-ordered seeds, stab(6) squared-euclid argmin (ties to
    * the lower cell), stab(6) per-dim means — the discipline SemDedup.model
    * proved for cosine Lloyd, applied to the serving trainer. The early
    * stop is safe under a fixed-round SQL twin: a converged round is a
    * fixed point (assignment and update are both deterministic functions),
    * so the oracle running all `iters` rounds lands on the same centroids.
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansCentroidsPrepared(prepared(embeddings).select("vec_id", "e"), k, iters)

  /** Same trainer over an already-prepared (vec_id, e ARRAY<DOUBLE>) table —
    * the entry point for retraining from a persisted index layout, whose
    * cells store `e` directly (no float column to re-promote).
    */
  def kmeansCentroidsPrepared(prep: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = prep.sparkSession
    import spark.implicits._
    // Round-18 loop tightening (see Spread.tight): a tiny single-split
    // prep pinned to SinglePartition makes each Lloyd round's k-row mean
    // aggregate exchange-free — one job per round instead of the AQE
    // map/reduce stage pair. Guard keeps the partitioned path at scale.
    // (Every caller passes a scan/projection, so the partition probe is
    // plan-only.)
    val p = graft.operators.Spread.tight(prep)
    // Seeds: first k vectors in (md5(vec_id), vec_id) order — a
    // deterministic uniform sample DuckDB re-derives exactly (the SemDedup
    // seed rule; md5 hex compares identically as a binary string in both
    // engines). TakeOrdered k, no full sort; k×dim doubles is the only
    // thing this trainer ever collects, and it collects it anyway for the
    // convergence check.
    val hashOrd = Seq(md5(col("vec_id").cast("string")), col("vec_id"))
    var cent: Seq[(Int, Seq[Double])] = p.orderBy(hashOrd: _*).limit(k)
      .select(col("e")).collect().map(_.getSeq[Double](0))
      .zipWithIndex.map { case (e, i) => (i, e) }.toSeq
    // Per round, ONE action: the collect that pulls the k×dim means to the
    // driver both materializes the round (the next round's plan starts
    // from a LocalRelation — O(1) lineage, no localCheckpoint job) and is
    // the convergence snapshot (stabilized means make converged centroids
    // bit-identical, so equality is an exact early stop).
    var prev: Seq[(Int, Seq[Double])] = null
    var i = 0
    while (i < iters && cent != prev) {
      prev = cent
      // assignment is the inlined row-local argmin (argminCell): the
      // previous crossJoin-by-k + groupBy(vec_id) form shuffled the
      // k×-exploded corpus every round; this is a narrow projection, so
      // the ONLY per-round shuffle is the k-row mean aggregate below
      val asg = p.select(
        argminCell(col("e"), cent).getField("cell").as("cell"), col("e"))
      // centroid update: one typed array-sum aggregate per cell. The
      // DataFrame formulation (posexplode → per-(cell,pos) avg →
      // collect_list/array_sort reassembly) blew each vector into dim rows
      // and paid two extra shuffles per round; ArrayMeanAgg carries the
      // whole mean in one buffer and applies the same stab(·,6) in finish,
      // so the exact-equality convergence stop is unchanged.
      cent = asg.groupBy("cell").agg(arrayMean(col("e")).as("c"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
        .sortBy(_._1)
      i += 1
    }
    cent.toDF("cell", "c")
  }

  // ---------------------------------------------------------------------
  // IVF: one layout, one builder, one in-plan tier and one indexed reader;
  // what differs between the label and k-means cells is a `Cells` value.
  // ---------------------------------------------------------------------

  /** An IVF coarse quantizer: the centroid table (cell INT, c ARRAY<DOUBLE>)
    * it derives from a corpus, the cell of every corpus vector, and the
    * router that sends each query (query_id, e) to its `nprobe` best cells
    * as (query_id, cell) — ties to the lower cell id, so every probe set
    * is oracle-re-derivable.
    */
  sealed trait Cells {
    /** Output name of the probed-cell column. */
    def probe: String
    def centroids(embeddings: DataFrame): DataFrame
    /** (vec_id, e, nrm, cell) for every corpus vector. */
    def assign(embeddings: DataFrame, cent: DataFrame): DataFrame
    def route(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame
  }

  /** The `label` column as cells — a stand-in for learned cells with the
    * same routing and pruning mechanics. Centroids are the per-label
    * stab(6) means; a query routes by its stab(6) dot product with each
    * centroid, summed per dimension over the posexploded arrays (the
    * arithmetic `knnIvfOracleN` replays). In-plan: no Spark job.
    */
  case object LabelCells extends Cells {
    val probe = "probe_label"
    def centroids(embeddings: DataFrame): DataFrame =
      embeddings.groupBy(col("label").as("cell"))
        .agg(arrayMean(toDouble(col("embedding"))).as("c"))
    def assign(embeddings: DataFrame, cent: DataFrame): DataFrame =
      embeddings.select(col("vec_id"), toDouble(col("embedding")).as("e"),
          col("label").as("cell"))
        .withColumn("nrm", norm(col("e")))
    def route(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame =
      Ranks.perQueryTopK(q.select(col("query_id"), posexplode(col("e")).as(Seq("pos", "qe")))
          .join(broadcast(cent.select(col("cell"), posexplode(col("c")).as(Seq("pos", "c")))),
            "pos")
          .groupBy("query_id", "cell")
          .agg(Stable.stab(sum(col("qe") * col("c")), 6).as("qdot")),
        nprobe, "qdot", "cell").select("query_id", "cell")
  }

  /** Lloyd k-means cells ([[kmeansCentroids]], trained with driver
    * collects). A query routes to its nearest centroids by argminCell's
    * stab(6) squared distance, negated so nearest ranks first.
    */
  final case class KmeansCells(k: Int = 8, iters: Int = 5) extends Cells {
    val probe = "probe_cell"
    def centroids(embeddings: DataFrame): DataFrame = kmeansCentroids(embeddings, k, iters)
    def assign(embeddings: DataFrame, cent: DataFrame): DataFrame =
      kmeansAssign(prepared(embeddings), cent)
    def route(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame =
      Ranks.perQueryTopK(q.crossJoin(broadcast(cent)).select(col("query_id"), col("cell"),
          (-Stable.stab(dot(col("c"), col("c")) - lit(2.0) * dot(col("e"), col("c")), 6))
            .as("nd")),
        nprobe, "nd", "cell").select("query_id", "cell")
  }

  /** The exact stage over probed cells: each routed query row (query_id,
    * e, nrm, cell) meets the members of its cell. Cells partition the
    * corpus, so each neighbor is scored at most once — no dedup needed.
    */
  private def probedTopK(qside: DataFrame, members: DataFrame, k: Int,
                         probe: String): DataFrame =
    exactTopK(qside, members,
      col("a.cell") === col("b.cell") && col("a.query_id") =!= col("b.vec_id"), k,
      col("a.cell").as(probe))

  /** IVF ANN over a query TABLE (vec_id, embedding): derive the centroids,
    * route each query to its `nprobe` best cells, exact cosine top-k
    * among the probed cells' members. With label cells the whole plan is
    * built with zero Spark jobs (spec-pinned), so it composes into a
    * larger lazy plan; candidates come from an EQUI-join of the routed
    * query side against the cell-keyed corpus — at a million queries it
    * shuffles by cell instead of broadcasting. nprobe = 1 is the classic
    * probe-1 IVF (`knn_ivf`); every label-cell tier shares one SQL oracle.
    */
  def ivfTopKBatch(embeddings: DataFrame, queries: DataFrame, k: Int,
                   nprobe: Int = 2, cells: Cells = LabelCells): DataFrame = {
    val cent = cells.centroids(embeddings)
    val q = asQueries(prepared(queries))
    probedTopK(q.join(cells.route(q, cent, nprobe), "query_id"),
      cells.assign(embeddings, cent), k, cells.probe)
  }

  /** ANN over learned k-means cells: train centroids, assign the corpus,
    * route each query (vec_id < nQueries) to its `nprobe` nearest cells.
    */
  def knnIvfKmeans(embeddings: DataFrame, nQueries: Int, k: Int,
                   kCells: Int = 8, iters: Int = 5, nprobe: Int = 2): DataFrame =
    ivfTopKBatch(embeddings, embeddings.filter(col("vec_id") < nQueries), k, nprobe,
      KmeansCells(kCells, iters))

  /** Persist an IVF layout: `cells` (vec_id, e, nrm) parquet-partitioned by
    * cell, `centroids` (cell, c) alongside — probing a cell is then
    * partition pruning at file-listing time, the ANN twin of
    * Search.buildIndex. Both tables materialize under one DirSwap marker
    * scope, so a crashed (re)build never leaves a mixed or partial
    * generation (same discipline as VectorStreams.retrainIndex).
    */
  def buildIvfIndex(embeddings: DataFrame, indexDir: String, cells: Cells): Unit = {
    val cent = cells.centroids(embeddings)
    // batch=base: the cells table is batch-keyed (BatchCommit) so the
    // streaming ingest's writes are replay-idempotent; the build is the
    // base generation (named, so no stream's numeric id collides)
    BatchCommit.fold(indexDir, "base",
      Seq(("cells", cells.assign(embeddings, cent), Seq("cell"))),
      plain = Seq("centroids" -> cent))
  }

  /** The persisted IVF and PQ tables' schemas: a read that passes its
    * schema opens no parquet footer, so opening a table runs no job. */
  private val IndexSchemas = Map(
    "cells" -> "vec_id BIGINT, e ARRAY<DOUBLE>, nrm DOUBLE, cell INT",
    "centroids" -> "cell INT, c ARRAY<DOUBLE>",
    "codes" -> "vec_id BIGINT, codes ARRAY<INT>, nrm DOUBLE",
    "codebooks" -> "j INT, code INT, c ARRAY<DOUBLE>").view.mapValues(StructType.fromDDL).toMap

  /** An index dir's `centroids` or `codebooks` table. */
  def indexTable(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                 table: String): DataFrame =
    spark.read.schema(IndexSchemas(table)).parquet(s"$indexDir/$table")

  /** Committed-batches view of a batch-keyed cells table (build writes
    * batch=base, each streaming micro-batch its own numeric id — see
    * VectorStreams.vectorIngest). Partition pruning on the cell column
    * still applies per batch dir.
    */
  def cellsTable(spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame =
    BatchCommit.readCommitted(spark, s"$indexDir/cells", Some(IndexSchemas("cells"))).getOrElse(
      throw new IllegalStateException(s"$indexDir/cells has no committed batches"))

  /** Query a persisted IVF index: route each query to its `nprobe` best
    * cells by the index's centroids, then scan ONLY the probed cell
    * partitions. The routing runs once, at construction: its (query_id,
    * cell) rows — at most queries × nprobe, metadata-scale — are collected,
    * their distinct cells turn `cell IN (...)` into partition pruning (one
    * pruned scan, no join-back), and the rows themselves rejoin the plan as
    * a local relation. Same rows as `ivfTopKBatch` with the same `cells`.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                     cells: Cells, queries: DataFrame, k: Int,
                     nprobe: Int = 2): DataFrame = {
    val q = asQueries(prepared(queries))
    val routed = cells.route(q, indexTable(spark, indexDir, "centroids"), nprobe)
    val rows = routed.collect() // ≤ queries × nprobe rows
    val probes = spark.createDataFrame(java.util.Arrays.asList(rows: _*), routed.schema)
    val probed = rows.map(_.getInt(1)).distinct.toSeq
    probedTopK(broadcast(q.join(probes, "query_id")),
      cellsTable(spark, indexDir).filter(col("cell").isin(probed: _*)), k, cells.probe)
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ): the memory-compression ANN tier. A 100 TB
  // embedding corpus at 64 float32 dims is 25 TB of vectors; PQ codes at
  // m=8 subspaces × 16 codes are 8 NIBBLES' worth of information (stored
  // as 8 small ints — 16-64× less than the floats), and approximate
  // scoring reads ONLY the code table. The classic two-stage query:
  // asymmetric-distance (ADC) shortlist over codes, exact re-rank of the
  // shortlist against the full vectors — so reported cosines are EXACT
  // and approximation affects recall only, never the scores.
  // ---------------------------------------------------------------------

  /** Per-subspace PQ codebooks: the j-th codebook is a k-means over the
    * corpus's j-th dim/m-dimensional subvector slice (the same
    * DataFrame-native trainer as the IVF tier, run m times). Returned
    * driver-side: m × kCodes × dim/m doubles — metadata-scale, the same
    * class of collect as every centroid table here (the trainer collects
    * it anyway for its convergence check).
    */
  def pqCodebooks(prep: DataFrame, m: Int, kCodes: Int,
                  iters: Int): Seq[Seq[(Int, Seq[Double])]] = {
    // dim from one row — a LIMIT-1 job at train/index-build time
    val first = prep.select(size(col("e"))).limit(1).collect()
    require(first.nonEmpty, "pqCodebooks: the input table is empty, no vectors to train on")
    val dim = first(0).getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map { j =>
      kmeansCentroidsPrepared(
          prep.select(col("vec_id"), slice(col("e"), j * sub + 1, sub).as("e")),
          kCodes, iters)
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    }
  }

  /** Encode each vector of `prep` (vec_id, e, …) as its m per-subspace
    * nearest-code ids: (vec_id, codes, …) with `e` replaced and any other
    * column (the norm) kept — a NARROW projection (the inlined argmin per
    * subspace; no join, no shuffle), the assignment shape of the k-means
    * tier.
    */
  def pqEncode(prep: DataFrame, cbs: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    val sub = cbs.head.head._2.length
    val codes = array(cbs.indices.map { j =>
      argminCell(slice(col("e"), j * sub + 1, sub), cbs(j)).getField("cell")
    }: _*)
    prep.select((col("vec_id") +: codes.as("codes") +:
      prep.columns.filterNot(Set("vec_id", "e")).map(col).toSeq): _*)
  }

  /** PQ reconstruction card — the emb_sq8_error sibling for the product
    * quantizer: per vector, the L2 error and cosine between the original
    * and its codebook reconstruction (each subspace's assigned centroid,
    * concatenated). THE "is m×k codes enough for this corpus" QA number
    * next to the ADC serving tiers. Per-subspace terms are row-local
    * ArrayDot folds against the broadcast codebook; the per-vector
    * rollup sums m=8 doubles (stab(6) absorbs reassociation noise, the
    * adc_cos discipline).
    */
  def pqReconError(embeddings: DataFrame,
                   cbs: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    val p = prepared(embeddings)
    val sub = cbs.head.head._2.length
    val cbDf = pqCodebooksToDf(p.sparkSession, cbs)
    val diff = zip_with(col("es"), col("c"), (a, b) => a - b)
    val terms = pqEncode(p.select("vec_id", "e"), cbs)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
      .join(p, "vec_id")
      .withColumn("es", slice(col("e"), col("j") * sub + 1, lit(sub)))
      .join(broadcast(cbDf), Seq("j", "code"))
      .select(col("vec_id"), col("nrm"),
        dot(diff, diff).as("sq"), dot(col("es"), col("c")).as("dt"),
        dot(col("c"), col("c")).as("rn2"))
    terms.groupBy("vec_id").agg(
        first("nrm").as("nrm"), sum("sq").as("ssq"),
        sum("dt").as("sdt"), sum("rn2").as("srn"))
      .select(col("vec_id"),
        Stable.stab(sqrt(col("ssq")), 6).as("l2_err"),
        Stable.stab(col("sdt") / (col("nrm") * sqrt(col("srn"))), 6).as("cos"))
  }

  /** Codebooks ⇄ rows (j, code, c) — the persistence format. Training is
    * deterministic (hash-seeded, stab'd means), so codebook and code
    * tables rebuilt independently from the same corpus always agree.
    */
  def pqCodebooksToDf(spark: org.apache.spark.sql.SparkSession,
                      cbs: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.map { case (code, c) => (j, code, c) }
    }.toDF("j", "code", "c")
  }

  def pqCodebooksFromDf(df: DataFrame): Seq[Seq[(Int, Seq[Double])]] =
    df.select("j", "code", "c").collect() // m × kCodes rows — metadata-scale
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r.getInt(1), r.getSeq[Double](2))).toSeq.sortBy(_._1))

  /** Persist the PQ layout as an index dir under one DirSwap marker scope:
    * `codebooks` (j, code, c) and the batch-keyed `codes` table (vec_id,
    * codes, nrm — batch=base; streaming ingest adds its own committed
    * batch dirs, see VectorStreams.pqIngest). Same crash-recoverable
    * build/maintenance discipline as the IVF layout; a layout of its own
    * because it stores no vectors. Over an existing index this is the
    * retrain (VectorStreams.retrainPqIndex holds the lease around it): the
    * streamed batches it re-encodes go to the new generation's folded
    * ledger; a first build has none and writes no ledger.
    */
  def buildPqIndex(embeddings: DataFrame, indexDir: String,
                   m: Int = 8, kCodes: Int = 16, iters: Int = 5): Unit = {
    val spark = embeddings.sparkSession
    val p = prepared(embeddings)
    val cbs = pqCodebooks(p.select("vec_id", "e"), m, kCodes, iters)
    // the ledger keeps ids this re-encode absorbs from replaying in next
    // to their folded copy (possibly coded by OLD codebooks); the trainer
    // collected cbs driver-side, so the codebooks write reads nothing live
    BatchCommit.fold(indexDir, "base", Seq(("codes", pqEncode(p, cbs), Nil)),
      plain = Seq("codebooks" -> pqCodebooksToDf(spark, cbs)))
  }

  /** Committed-batches view of the PQ code table. */
  def pqCodesTable(spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame =
    BatchCommit.readCommitted(spark, s"$indexDir/codes", Some(IndexSchemas("codes"))).getOrElse(
      throw new IllegalStateException(s"$indexDir/codes has no committed batches"))

  /** Per-query ADC lookup tables, built in-plan: lut[j·kc + code] = the
    * query's j-th subvector · centroid c_{j,code}. Each query explodes
    * over j ∈ 0..dim−1 (a superset of the m subspace ids) and equi-joins
    * the broadcast codebook rows (a BroadcastHashJoin, never a nested
    * loop); the subspace width is size(c). The m subspaces and the code
    * width kc are read from the codebook rows (max + 1), and each entry is
    * placed by its (j, code) key — so codebooks narrower than the trainer's
    * kCodes (a corpus with fewer vectors) or with a hole (a Lloyd cell
    * that dropped out; its slot stays null, no code points at it) still
    * line up. Returns (query_id, kc, lut).
    */
  private def pqLuts(q: DataFrame, codebooks: DataFrame): DataFrame = {
    val sub = size(col("c"))
    q.select(col("query_id"), col("e"), explode(sequence(lit(0), size(col("e")) - 1)).as("j"))
      .join(broadcast(codebooks.select("j", "code", "c")), "j")
      .groupBy("query_id")
      .agg((max("j") + 1).as("m"), (max("code") + 1).as("kc"),
        collect_list(struct(col("j"), col("code"),
          dot(slice(col("e"), col("j") * sub + 1, sub), col("c")).as("d"))).as("ds"))
      .withColumn("byKey", map_from_entries(transform(col("ds"),
        x => struct(x("j") * col("kc") + x("code"), x("d")))))
      .select(col("query_id"), col("kc"),
        transform(sequence(lit(0), col("m") * col("kc") - 1),
          i => element_at(col("byKey"), i)).as("lut"))
  }

  /** The ADC score of a code row against its query's lut: the m looked-up
    * dots folded left to right from 0.0 (the order the oracle's
    * `list_sum(list(d ORDER BY j))` replays).
    */
  private def adc: Column =
    aggregate(sequence(lit(0), size(col("codes")) - 1), lit(0.0),
      (acc, j) => acc +
        element_at(col("lut"), j * col("kc") + element_at(col("codes"), j + 1) + 1))

  /** The ADC stage shared by every PQ tier, over a query TABLE with zero
    * driver collects: in-plan LUTs, an ADC scan of the code table keeping
    * the top `shortlist`·k per query (stab(6) adc_cos — LUT entries and
    * the m-term fold are order-identical across engines, so shortlist
    * membership is oracle-re-derivable), then the exact stage re-ranks
    * the shortlist against the full vectors. Stage 1 reads codes alone.
    *
    * Unrouted (`nprobe` 0) every code row meets every query through a
    * broadcast nested loop — the brute ADC×queries product inherent to
    * flat PQ; the LUT side grows with the query table (m·kc doubles per
    * query), which fits serving and thousands-of-queries batches. Routed
    * (`nprobe` > 0, IVF-PQ — FAISS's default shape) each query goes to its
    * `nprobe` best LABEL cells and the ADC stage becomes an EQUI-join of
    * the routed (query, lut, cell) side against the cell-keyed code table:
    * no nested loop anywhere (PlanShapeSpec-locked). `codes` is (vec_id,
    * codes, nrm), plus `cell` when routed — a deployment stores it at
    * encode time.
    */
  def knnPqBatchFromCodes(embeddings: DataFrame, queries: DataFrame,
                          codes: DataFrame, codebooks: DataFrame,
                          k: Int = 5, shortlist: Int = 10, nprobe: Int = 0): DataFrame = {
    val q = asQueries(prepared(queries))
    val luts = pqLuts(q, codebooks)
    val scored =
      if (nprobe <= 0) codes.crossJoin(broadcast(luts))
      else codes.join(broadcast(luts.join(
        LabelCells.route(q, LabelCells.centroids(embeddings), nprobe), "query_id")), "cell")
    val short = Ranks.perQueryTopK(scored.filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          Stable.stab(adc / col("nrm"), 6).as("adc_cos")),
      shortlist * k, "adc_cos")
    exactTopK(short.select("query_id", "neighbor_id").join(q, "query_id"),
      prepared(embeddings), col("a.neighbor_id") === col("b.vec_id"), k)
  }

  /** PQ ANN top-k with the codebooks trained in the same call (m
    * subspaces × kCodes codes): encode the corpus, then the ADC stage for
    * the queries vec_id < nQueries.
    */
  def knnPq(embeddings: DataFrame, nQueries: Int, k: Int,
            m: Int = 8, kCodes: Int = 16, iters: Int = 5,
            shortlist: Int = 10): DataFrame = {
    val p = prepared(embeddings)
    val cbs = pqCodebooks(p.select("vec_id", "e"), m, kCodes, iters)
    knnPqBatchFromCodes(embeddings, embeddings.filter(col("vec_id") < nQueries),
      pqEncode(p, cbs), pqCodebooksToDf(embeddings.sparkSession, cbs), k, shortlist)
  }

  /** The PQ query against a persisted index dir: the codebook table is
    * read as a DataFrame, never collected. `embeddings` supplies the
    * exact re-rank side only — at corpus scale the shortlist's full-vector
    * reads are a pruned point-lookup, never a second full scan.
    */
  def knnPqBatch(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                 embeddings: DataFrame, queries: DataFrame,
                 k: Int = 5, shortlist: Int = 10): DataFrame =
    knnPqBatchFromCodes(embeddings, queries, pqCodesTable(spark, indexDir),
      indexTable(spark, indexDir, "codebooks"), k, shortlist)

  /** [[knnPqBatch]] for the queries vec_id < nQueries of `embeddings`. */
  def knnPqIndexed(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                   embeddings: DataFrame, nQueries: Int, k: Int,
                   shortlist: Int = 10): DataFrame =
    knnPqBatch(spark, indexDir, embeddings,
      embeddings.filter(col("vec_id") < nQueries), k, shortlist)
}
