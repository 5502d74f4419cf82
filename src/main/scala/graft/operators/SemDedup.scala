package graft.operators

import graft.functions.Stable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SemDeDup — cluster-then-dedup over embeddings (Abbas et al. 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication"): k-means the corpus, then search for near-duplicate
  * pairs WITHIN each cluster only. Candidate count drops from N² to
  * Σ|cell|² — with k scaled ∝ N this is the only embedding-dedup shape
  * that survives web scale, and it is the technique's definition (the
  * within-cluster restriction is semantics, not an approximation to be
  * recall-measured — contrast dedup_embedding's LSH blocking, which
  * approximates the all-pairs answer).
  *
  * Unlike the serving-tier IVF trainer (Similarity.kmeansCentroids:
  * xxhash64 seeds, typed-UDAF means, early stop — tuned for speed), this
  * trainer is built for the value-identical gate, the PageRank/BPE
  * discipline applied to Lloyd's algorithm:
  *
  *  - seeds = first k vectors in (md5(vec_id), vec_id) order — a
  *    deterministic uniform pick DuckDB re-derives exactly;
  *  - assignment = argmax of stab(6) cosine, ties to the lower cell id —
  *    dot products fold dims in index order in BOTH engines (ArrayDot
  *    here, list_sum(list_transform) there), so the doubles agree
  *    bit-for-bit;
  *  - update = per-(cell, dim) avg collapsed with stab(6) — aggregation
  *    order differs across engines but the 1e-6 quantum absorbs the
  *    ~1e-15 reassociation noise (the emb_label_outliers gate, iterated);
  *  - fixed rounds, no early stop (a converged round is a fixed point on
  *    both sides, so extra rounds cannot diverge).
  *
  * Scale shape: per round one row-local argmax projection (centroids
  * inlined as literals — no corpus shuffle in assignment) and one
  * (cell, dim)-keyed mean — k×dim doubles to the driver per round (the
  * bounded trainer contract). The pair stage is a cell-keyed equi
  * self-join; nothing is ever quadratic in N.
  */
object SemDedup {

  /** Trained model: ((vec_id, cell) assignment, (cell, c, cnrm)
    * centroids) after `iters` gated Lloyd rounds.
    */
  def model(embeddings: DataFrame, k: Int = 8,
            iters: Int = 3): (DataFrame, DataFrame) = {
    val p = Similarity.prepared(embeddings) // vec_id, e, nrm
    // Round-18 loop tightening: the per-round update shuffled its
    // explode + per-(cell, dim) means because the assign⋈p join output
    // planned UnknownPartitioning — the guarded SinglePartition pin in
    // `update` removes both exchanges when the corpus side is a tiny
    // single-split scan. The PAIR join downstream keeps its own
    // partitioning (this flag never touches it).
    val tiny = Spread.isTiny(p)
    // k seeds: the top k by (md5(vec_id), vec_id), then those k rows
    // numbered (the Selection.selectTopK shape) — the unpartitioned
    // window sees k rows, never the corpus
    val seedOrder = Seq(md5(col("vec_id").cast("string")), col("vec_id"))
    var cent: DataFrame = p.orderBy(seedOrder: _*).limit(k)
      .withColumn("rn", row_number().over(Window.orderBy(seedOrder: _*)))
      .select((col("rn") - 1).cast("int").as("cell"), col("e").as("c"))
      .withColumn("cnrm", Similarity.norm(col("c")))
    for (_ <- 1 to iters) {
      val asg = assign(p, cent)
      cent = update(p, asg, tiny)
    }
    (assign(p, cent), cent)
  }

  /** Final (vec_id, cell) assignment after `iters` gated Lloyd rounds. */
  def cells(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame =
    model(embeddings, k, iters)._1

  /** argmax_cell stab(6) cos(e, c), ties to the lower cell id.
    *
    * Row-local inlined argmax (the Similarity.kmeansAssign shape): the k
    * centroids are collected (k×dim doubles — the same metadata-scale
    * table `update` collects every round anyway) and inlined as literals,
    * so assignment is ONE narrow projection. The previous
    * crossJoin(broadcast)+row_number window shuffled the k×-exploded
    * corpus once per Lloyd round. array_min over struct(−cos, cell)
    * reproduces the window's (desc cos, asc cell) winner exactly: −stab
    * ascending ≡ stab descending, struct ties fall through to the lower
    * cell id.
    *
    * NaN invariant: cos is NaN only if a centroid or embedding has zero
    * norm. Zero-norm CENTROIDS are impossible by construction — seeds
    * are corpus vectors, updates are means of assigned vectors, and the
    * synthetic/production contract is non-zero embeddings (a cell whose
    * members all vanished drops out of the mean update entirely rather
    * than averaging to zero). A zero-norm EMBEDDING would score NaN
    * against every cell — the one place the negated-min form differs
    * from the old window (NaN sorted first desc, sorts last negated) —
    * but it cannot arise under the same contract; if a future corpus
    * admits zero vectors, guard the cosine with nanvl before the argmin.
    */
  private def assign(p: DataFrame, cent: DataFrame): DataFrame = {
    val cs = cent.select("cell", "c", "cnrm").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .toSeq.sortBy(_._1)
    val best = array_min(array(cs.map { case (cell, c, cn) =>
      struct(
        (-Stable.stab(Similarity.dot(col("e"), typedLit(c)) /
          (col("nrm") * lit(cn)), 6)).as("negcos"),
        lit(cell).as("cell"))
    }: _*))
    p.select(col("vec_id"), best.getField("cell").as("cell"))
  }

  /** Per-(cell, dim) stab(6) means, reassembled to centroid arrays —
    * collects k×dim doubles so the next round starts from a
    * LocalRelation (O(1) lineage across rounds).
    */
  private def update(p: DataFrame, asg: DataFrame,
                     tiny: Boolean = false): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val joined = asg.join(p, "vec_id")
    val rows = (if (tiny) joined.coalesce(1) else joined)
      .select(col("cell"), posexplode(col("e")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(Stable.stab(avg("x"), 6).as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
      .sortBy(_._1)
    rows.toDF("cell", "c").withColumn("cnrm", Similarity.norm(col("c")))
  }

  /** Near-duplicate pairs within each cluster: (vec_a, vec_b, cell, cos)
    * with exact stab(6) cosine ≥ threshold — a cell-keyed equi self-join
    * (candidates Σ|cell|², never N²).
    */
  def pairs(embeddings: DataFrame, threshold: Double,
            k: Int = 8, iters: Int = 3): DataFrame =
    pairsFrom(model(embeddings, k, iters)._1,
      Similarity.prepared(embeddings), threshold)

  private[graft] def pairsFrom(asg: DataFrame, p: DataFrame,
                               threshold: Double): DataFrame = {
    val side = asg.join(p, "vec_id")
    side.as("a").join(side.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.cell").as("cell"), Similarity.cosine(6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Salted escape hatch for the within-cell self-join (round-15): a
    * DEGENERATE clustering (boilerplate-heavy corpora collapse most
    * vectors into one cell) concentrates one join key, and past what AQE
    * skew-split can stage, a single task owns the whole |cell|² block.
    * The triangle-salt decomposition splits each cell into `salt` hash
    * buckets and covers every unordered pair exactly once: a row in
    * bucket u joins as the LEFT side under keys (u, j) for j ≥ u and as
    * the RIGHT side under keys (i, u) for i ≤ u, so bucket pair (u, v),
    * u ≤ v, is one equi-join key and the diagonal (u = u) dedupes with
    * the usual vec_id order. One giant cell becomes salt·(salt+1)/2
    * independently-scheduled blocks at a replication cost of (salt+1)×
    * rows — the pair COUNT is unchanged, only its scheduling. Output is
    * exactly [[pairsFrom]] (SemDedupSpec pins salt 1/4/16 and the
    * all-one-cell corpus; BASELINE.md carries the measured degenerate
    * wall-clock).
    */
  private[graft] def pairsFromSalted(asg: DataFrame, p: DataFrame,
                                     threshold: Double, salt: Int): DataFrame = {
    require(salt >= 1, "salt must be >= 1")
    val side = asg.join(p, "vec_id")
      .withColumn("sb", pmod(xxhash64(col("vec_id")), lit(salt.toLong)).cast("int"))
    val aSide = side.withColumn("sj", explode(sequence(col("sb"), lit(salt - 1))))
    val bSide = side.withColumn("si", explode(sequence(lit(0), col("sb"))))
    aSide.as("a").join(bSide.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.sb") === col("b.si") && col("a.sj") === col("b.sb") &&
          (col("a.sb") =!= col("b.sb") || col("a.vec_id") < col("b.vec_id")))
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
        col("a.cell").as("cell"), Similarity.cosine(6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** [[pairs]] with the salted within-cell join — the degenerate-skew
    * deployment switch.
    */
  def pairsSalted(embeddings: DataFrame, threshold: Double,
                  k: Int = 8, iters: Int = 3, salt: Int = 8): DataFrame =
    pairsFromSalted(model(embeddings, k, iters)._1,
      Similarity.prepared(embeddings), threshold, salt)

  /** Cell-histogram profile of an assignment — the routing probe for the
    * within-cell self-join (round 16; the Dedup.bucketProfile signal at
    * cell granularity): `headCandShare` = C(max_cell, 2) / Σ C(cell, 2),
    * the fraction of all candidate pairs the hottest cell owns. The
    * histogram aggregate is k rows and the collect is one row — a
    * driver-side routing decision, never corpus data.
    */
  final case class CellProfile(nVecs: Long, nCells: Long, maxCell: Long,
                               candPairs: Long) {
    def headCandShare: Double =
      if (candPairs == 0) 0.0
      else maxCell.toDouble * (maxCell - 1) / 2.0 / candPairs
  }

  def cellProfile(asg: DataFrame): CellProfile = {
    val b = asg.groupBy("cell").agg(count(lit(1)).as("b"))
      .agg(count(lit(1)).as("n_cells"), max("b").as("max_b"),
        sum(expr("b * (b - 1) div 2")).as("cand"),
        sum("b").as("n"))
      .collect()(0)
    if (b.isNullAt(1)) CellProfile(0L, b.getLong(0), 0L, 0L)
    else CellProfile(b.getLong(3), b.getLong(0), b.getLong(1), b.getLong(2))
  }

  /** The routing rule, exposed separately so specs pin the DECISION per
    * clustering profile without running the joins. Salt when the hottest
    * cell owns ≥ `headShare` of the candidate mass: a BALANCED k-cell
    * clustering sits at ≈ 1/k (0.125 at the gate fixture's k = 8,
    * falling as production scales k ∝ N), while the degenerate
    * boilerplate-collapse regime the salt exists for sits near 1 (the
    * planted 60 %-one-cell fixture of BASELINE.md "Round-15 measured
    * facts" measures 0.89, where salt 16
    * is a measured 4.6× — BASELINE.md round-16 table). Measured margins:
    * gate corpora 0.140–0.152 (≥ 2.6× under) vs degenerate 0.891 (2.2×
    * over); the one synthetic that lands exactly ON 0.4 shows the
    * boundary is benign — salt is itself 1.8× faster there, so a
    * borderline route costs little either way. The trade-off is one
    * k-row histogram probe per pair run.
    */
  def useSaltedTier(p: CellProfile, headShare: Double = 0.4): Boolean =
    p.headCandShare >= headShare

  /** [[pairs]] with AUTOMATIC plain-vs-salted routing off the cell
    * histogram. Output is tier-invariant (SemDedupSpec pins the tiers
    * equal), so the auto form shares the plain form's oracle on every
    * profile.
    */
  def pairsAuto(embeddings: DataFrame, threshold: Double,
                k: Int = 8, iters: Int = 3, salt: Int = 16,
                headShare: Double = 0.4): DataFrame = {
    val asg = model(embeddings, k, iters)._1
    val p = Similarity.prepared(embeddings)
    if (useSaltedTier(cellProfile(asg), headShare))
      pairsFromSalted(asg, p, threshold, salt)
    else pairsFrom(asg, p, threshold)
  }

  /** The prune decision — SemDeDup's action: connect near-dup pairs into
    * groups (label propagation, component id = min member), keep ONE
    * member per group — the paper's rule, the member with the LOWEST
    * cosine to its cluster centroid (the least typical exemplar, which
    * preserves diversity) — and mark the rest for removal. Only vectors
    * that appear in some pair are listed: `keep = false` rows ARE the
    * prune list a pipeline feeds to its filter.
    */
  def keep(embeddings: DataFrame, threshold: Double,
           k: Int = 8, iters: Int = 3): DataFrame = {
    val p = Similarity.prepared(embeddings)
    val (asg, cent) = model(embeddings, k, iters)
    val pr = pairsFrom(asg, p, threshold)
    val comp = Dedup.clusters(
      pr.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    val scored = comp.withColumnRenamed("doc_id", "vec_id")
      .withColumnRenamed("keep_id", "component")
      .join(asg, "vec_id").join(p, "vec_id").join(broadcast(cent), "cell")
      .select(col("vec_id"), col("component"),
        Stable.stab(Similarity.dot(col("e"), col("c")) /
          (col("nrm") * col("cnrm")), 6).as("ccos"))
    val w = Window.partitionBy("component").orderBy(asc("ccos"), asc("vec_id"))
    scored.withColumn("keep", row_number().over(w) === 1)
  }

  /** Incremental SemDeDup — the per-snapshot production operation: train
    * (or load) the cell layout on the EXISTING corpus, assign the
    * arriving batch to those FIXED centroids (the vectorIngest
    * discipline: cells must agree with the layout queries probe), and
    * search new×old pairs within cells only. No old×old work is
    * repeated, and the candidate bound is Σ|cell_new|·|cell_old| — the
    * incremental analogue of the Σ|cell|² batch bound.
    */
  def incrementalPairs(oldEmb: DataFrame, newEmb: DataFrame,
                       threshold: Double,
                       k: Int = 8, iters: Int = 3): DataFrame = {
    val (oldAsg, cent) = model(oldEmb, k, iters)
    val oldSide = oldAsg.join(Similarity.prepared(oldEmb), "vec_id")
    incrementalPairsFrom(oldSide, Similarity.prepared(newEmb), cent, threshold)
  }

  /** Assign prepared vectors to FIXED centroids — the ingest-time
    * operation (cells must agree with the trained layout; the trainer
    * never runs mid-stream).
    */
  def assignTo(p: DataFrame, cent: DataFrame): DataFrame = assign(p, cent)

  /** The new×old half of incremental SemDeDup against an EXISTING
    * corpus side (vec_id, cell, e, nrm) and fixed centroids — shared
    * verbatim by the batch operator above and the streaming ingest
    * (VectorStreams.semanticDedupIngest), so their parity is by
    * construction, not by test alone.
    */
  def incrementalPairsFrom(oldSide: DataFrame, pNew: DataFrame,
                           cent: DataFrame, threshold: Double): DataFrame = {
    val newSide = assign(pNew, cent).join(pNew, "vec_id")
    newSide.as("a").join(oldSide.as("b"), col("a.cell") === col("b.cell"))
      .select(col("a.vec_id").as("new_vec"), col("b.vec_id").as("old_vec"),
        col("a.cell").as("cell"), Similarity.cosine(6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Cluster-balanced sample: the gated k-means cells with a
    * deterministic per-cell content-hash rank, keeping `perCell` members
    * of each — the curation move behind density-aware selection (D4 /
    * SSL-prototype style): a head-heavy corpus region gets the SAME
    * budget as a sparse one, so the sample is diverse by construction
    * instead of mirroring the corpus density. The rank is
    * (md5(vec_id), vec_id) — the repo's deterministic-uniform pick
    * (text_sample_hash discipline), so both engines draw the identical
    * sample.
    *
    * The per-cell pick is the two-phase [[Ranks.topK]]: at FIXED k a
    * single window partitioned by cell sorts corpus/k rows per task, and
    * a degenerate clustering can concentrate one cell. Output is identical
    * to the one-window form (the oracle runs that), pinned by
    * SemDedupSpec at nBuckets 1/4/16 and on an all-one-cell corpus.
    */
  def clusterSample(embeddings: DataFrame, perCell: Int,
                    k: Int = 8, iters: Int = 3, nBuckets: Int = 16): DataFrame =
    Ranks.topK(cells(embeddings, k, iters), Seq("cell"),
      Seq(md5(col("vec_id").cast("string")), col("vec_id")), perCell,
      "vec_id", "cs", nBuckets, "rn")
      .select(col("cell"), col("rn"), col("vec_id"))
}
