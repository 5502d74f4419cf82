package graft.operators

import graft.functions.Stable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics in the same declarative, hash-gatable
  * discipline as the rest of the library — PageRank as the exemplar:
  * every round is one equi-join plus one EXACT decimal aggregate, so the
  * whole 5-round computation has a DuckDB twin and survives the
  * value-identical correctness gate (most engines treat iterative graph
  * scores as "approximately reproducible"; here they are bit-stable).
  */
object Graph {

  /** Deterministic synthetic link graph over the corpus: node i links to
    * (md5-slice("e:i:j") mod N) for j < outDeg — the repo's established
    * integer-md5 arithmetic (≤48-bit slices), so DuckDB re-derives the
    * identical edge set. Self-loops and parallel edges are kept as drawn
    * (both engines agree on them; PageRank handles both).
    */
  def syntheticEdges(docs: DataFrame, outDeg: Int = 3): DataFrame = {
    val nDf = docs.agg(count(lit(1)).as("n"))
    docs.select(col("doc_id").as("src"))
      .crossJoin(broadcast(nDf))
      .select(col("src"), explode(sequence(lit(0), lit(outDeg - 1))).as("j"),
        col("n"))
      .select(col("src"),
        (conv(substring(md5(concat(lit("e:"), col("src").cast("string"),
          lit(":"), col("j").cast("string"))), 1, 12), 16, 10).cast("long")
          % col("n")).as("dst"))
  }

  /** Block-local synthetic edges: node i draws `outDeg` targets inside
    * its own `blockSize`-node block ((i div B)·B + md5-slice mod B).
    * Components are therefore bounded by the block size — the fixture
    * shape connected-components needs for a recursive-CTE oracle (a
    * 3-out-degree global graph is one giant component, and the label
    * closure would be |V|² rows in SQL; block-local edges keep it
    * |V|·B while leaving real structure — blocks split into multiple
    * components when the draws miss nodes).
    */
  def blockEdges(docs: DataFrame, blockSize: Int = 10,
                 outDeg: Int = 2): DataFrame =
    docs.select(col("doc_id").as("src"))
      .select(col("src"), explode(sequence(lit(0), lit(outDeg - 1))).as("j"))
      .select(col("src"),
        (col("src") - col("src") % blockSize +
          conv(substring(md5(concat(lit("b:"), col("src").cast("string"),
            lit(":"), col("j").cast("string"))), 1, 12), 16, 10).cast("long")
            % blockSize).as("dst"))

  /** Exact triangle count over the undirected simple graph induced by
    * (src, dst) edges (self-loops dropped, parallel/reverse edges
    * collapsed). The classic ordered-wedge formulation: orient every
    * edge low→high, join wedges a<b<c on their closing edge — two
    * equi-joins, each triangle counted exactly once. Integer-exact, so
    * the gate needs no numeric stabilization. At scale both joins
    * shuffle by vertex key; the ordering filter keeps the wedge set to
    * Σ deg_high(v)² (the standard skew bound — orient-by-degree is the
    * production refinement, same plan shape).
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val wedges = und.toDF("a", "b").as("x")
      .join(und.toDF("b", "c").as("y"), "b")
      .select(col("a"), col("b"), col("c"))
    wedges.join(und.toDF("a", "c"), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** PageRank over (src, dst) edges, uniform init, fixed rounds.
    *
    * Cross-engine determinism: per-edge contributions are stab(12)-
    * quantized then summed as DECIMAL(28,12) — exact and order-free — and
    * each round's new score is stab(12)-collapsed after the damping
    * arithmetic, so both engines iterate through identical doubles.
    * `teleport` and `damping` are passed to both engines as plain
    * literals (0.15/0.85), never derived as 1−d at runtime: double
    * (1.0−0.85) ≠ double(0.15), and the two engines' literal parsers DO
    * agree on nearest-double("0.15").
    *
    * Scale shape: each round shuffles contributions by dst (one hash
    * aggregate) and equi-joins scores by src — linear in edges, nothing
    * quadratic, no driver collect. At 100 TB a deployment adds a
    * localCheckpoint per round to truncate lineage; at bench scale the
    * unrolled plan is the better bench citizen (pure, lazy).
    *
    * Dangling nodes (no out-edges) leak their damped rank mass in the
    * classic formulation — the registered query keeps that form (its
    * synthetic graph has out-degree ≥ 1 everywhere, so nothing leaks).
    * `redistributeDangling = true` adds the standard correction: each
    * round the total dangling mass D (an exact decimal sum of already-
    * stab(12)-quantized scores — order-free, engine-agnostic) is spread
    * uniformly, new = t/n + d·(contrib + D/n), preserving Σ pr = 1. The
    * D aggregate is one 1-row anti-join sum per round — same linear
    * shape, no new corpus-scale shuffle. Because that branch reads the
    * previous round's `pr` twice, it localCheckpoints `pr` each round
    * (O(1) lineage); the classic single-reference branch stays lazy.
    */
  def pageRank(docs: DataFrame, edges: DataFrame, iters: Int = 5,
               damping: Double = 0.85, teleport: Double = 0.15,
               redistributeDangling: Boolean = false): DataFrame = {
    val nDf = docs.agg(count(lit(1)).cast("double").as("n"))
    // Round-18 tightening: when the caller pinned a tiny docs scan to
    // SinglePartition (Spread.tight), every join over it already
    // satisfies its distribution — but the planner would still pick
    // BroadcastHashJoin for the tiny sides, paying a broadcast-build job
    // per round (measured: 21 AQE stage jobs for 0.4 s of summed task
    // time). The SHUFFLE_HASH hint under the same guard keeps the join
    // in-stage (hash build over the single partition, no exchange, no
    // broadcast), collapsing the unrolled rounds to one stage. At scale
    // the guard is off and the strategy choice is the planner's, as
    // before. docs is by contract a scan/coalesced scan.
    val tiny = Spread.isTiny(docs, 1)
    def sh(df: DataFrame): DataFrame = if (tiny) df.hint("shuffle_hash") else df
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val e = edges.join(sh(deg), "src")
    var pr = docs.select(col("doc_id")).crossJoin(broadcast(nDf))
      .select(col("doc_id"), (lit(1.0) / col("n")).as("pr"))
    for (_ <- 1 to iters) {
      // With redistributeDangling the round reads `pr` TWICE (contrib and
      // the dangling anti-join sum), so the unrolled lineage would double
      // per round (~2^iters subtree copies, survivable only via exchange
      // reuse). localCheckpoint collapses the round's input to O(1) plan
      // — the Dedup.clusters iteration discipline. The classic branch
      // reads `pr` once and stays pure/lazy (better bench citizen).
      if (redistributeDangling) pr = pr.localCheckpoint()
      val contrib = e.join(sh(pr.withColumnRenamed("doc_id", "src")), "src")
        .select(col("dst"),
          Stable.stab(col("pr") / col("deg"), 12).cast(DecimalType(28, 12)).as("c"))
        .groupBy("dst").agg(sum("c").cast("double").as("s"))
      val base = docs.select(col("doc_id")).crossJoin(broadcast(nDf))
        .join(sh(contrib.withColumnRenamed("dst", "doc_id")), Seq("doc_id"), "left")
      pr =
        if (!redistributeDangling)
          base.select(col("doc_id"),
            Stable.stab(lit(teleport) / col("n") +
              lit(damping) * coalesce(col("s"), lit(0.0)), 12).as("pr"))
        else {
          val dangling = pr
            .join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left_anti")
            .agg(coalesce(sum(col("pr").cast(DecimalType(28, 12))),
              lit(0).cast(DecimalType(28, 12))).cast("double").as("dm"))
          base.crossJoin(broadcast(dangling))
            .select(col("doc_id"),
              Stable.stab(lit(teleport) / col("n") +
                lit(damping) * (coalesce(col("s"), lit(0.0)) +
                  col("dm") / col("n")), 12).as("pr"))
        }
    }
    pr
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for community
    * detection — a DIFFERENT partition than connected components: LPA
    * groups by edge density (a sparse bridge between two dense blobs
    * keeps them separate communities; components would merge them).
    *
    * Made deterministic and hence hash-gatable (the published algorithm
    * breaks ties randomly and updates asynchronously): fixed `iters`
    * SYNCHRONOUS rounds, each node adopting its neighbors' modal label
    * with ties to the SMALLEST label — the modal pick is one
    * `min(struct(−count, label))` aggregate (the gopherRepetition move),
    * so per-node state through the shuffle is one struct, never the
    * label histogram. Isolated nodes keep their own label.
    *
    * Per round: one equi-join of the checkpointed neighbor table to the
    * labels, two hash aggregates, one left join back — linear in edges,
    * no collect, localCheckpoint per round to cut the lineage (the
    * Dedup.clusters discipline). Neighbors are the undirected SIMPLE
    * graph (self-loops dropped, parallel edges collapsed), so the mode
    * is over distinct neighbors.
    */
  def labelPropagation(docs: DataFrame, edges: DataFrame, iters: Int = 6): DataFrame = {
    val nodes = docs.select(col("doc_id").as("v"))
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val nbrsC = und.select(col("a").as("v"), col("b").as("u"))
      .union(und.select(col("b").as("v"), col("a").as("u")))
      .localCheckpoint() // reused by every round
    // Round-18 loop tightening (see Spread.tight / Dedup.clusters): tiny
    // checkpointed graph state pinned to SinglePartition lets the
    // neighbor join and both aggregates plan exchange-free (measured
    // 2.5 s / 43 jobs → 1.3 s / 27 jobs at sf0.1). Checkpoints stay
    // EAGER: each round's action is what truncates lineage — a lazy
    // chain here (no per-round action) grew the stage DAG 2-3 stages
    // per round, measured. Guard keeps the partitioned path at scale.
    val small = Spread.isTiny(nbrsC)
    def t(df: DataFrame): DataFrame = if (small) df.coalesce(1) else df
    val nbrs = t(nbrsC)
    var lab = t(nodes.select(col("v"), col("v").as("lab")).localCheckpoint())
    for (_ <- 1 to iters) {
      val cnt = nbrs.join(lab.withColumnRenamed("v", "u").withColumnRenamed("lab", "ulab"), "u")
        .groupBy(col("v"), col("ulab")).agg(count(lit(1)).as("c"))
      val pick = cnt.groupBy("v")
        .agg(min(struct((-col("c")).as("nc"), col("ulab").as("l"))).as("m"))
        .select(col("v"), col("m.l").as("plab"))
      lab = t(lab.join(pick, Seq("v"), "left")
        .select(col("v"), coalesce(col("plab"), col("lab")).as("lab"))
        .localCheckpoint())
    }
    lab.select(col("v").as("doc_id"), col("lab").as("label"))
  }

  /** Common-neighbor link prediction (Jaccard over out-neighborhoods):
    * candidate pairs are generated by the shared-successor equi-join —
    * (u,v) appear together once per common neighbor, so the candidate
    * count is Σ_w indeg(w)², never |V|² (the LSH-banding argument, with
    * graph structure as the blocking key). Existing edges (either
    * direction) are anti-joined away; the remainder ranked by Jaccard =
    * |N(u)∩N(v)| / |N(u)∪N(v)|. Small-integer division is engine-exact,
    * so no stabilizer is needed. At 100 TB the one skew hazard is a hub
    * node with corpus-scale indegree (indeg² candidates through it) —
    * production drops neighbors above an indegree cap first, the
    * standard mitigation; the md5 fixture graph is near-uniform so the
    * bound is tight here.
    */
  def linkPrediction(edges: DataFrame, topK: Int): DataFrame = {
    val e = edges.select("src", "dst").distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    e.as("a").join(e.as("b"),
        col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("u"), col("b.src").as("v"))
      .agg(count(lit(1)).as("common"))
      .join(deg.select(col("src").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("src").as("v"), col("deg").as("dv")), "v")
      .withColumn("jaccard",
        col("common").cast("double") / (col("du") + col("dv") - col("common")).cast("double"))
      .join(e.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"), "left_anti")
      .join(e.select(col("dst").as("u"), col("src").as("v")), Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"), col("common"), col("jaccard"))
      .orderBy(desc("jaccard"), asc("u"), asc("v")).limit(topK)
  }
}
