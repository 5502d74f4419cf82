package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Streaming twin of Sketch.kmvDistinct: a running approximate
  * DISTINCT-count per group over an unbounded ingest stream, with
  * provably bounded state (exactly k hash values per group, ~8·k bytes —
  * the smallest possible mergeable-distinct state).
  *
  * Why this exists: a 100 TB ingest pipeline wants "distinct URLs /
  * users / doc fingerprints per source so far" as a LIVE signal without
  * storing the identity sets. KMV is the sketch whose merge is exact set
  * algebra (union the k-min sets, re-take the k smallest), so the
  * streaming fold is value-IDENTICAL to the batch sketch over the same
  * rows — SketchStreamSpec gates the final stream state bit-for-bit
  * (n_kept, threshold element, estimate) against `Sketch.kmvDistinct`
  * of the full input, which itself hash-matches the DuckDB XXH64 twin.
  * Approximation error comes from the sketch, never from streaming.
  *
  * Mechanics: keys are hashed IN-PLAN with the same `xxhash64` column
  * function the batch tier uses (so parity is by construction, not by a
  * reimplementation); the state machine only maintains the k smallest
  * distinct hashes in UNSIGNED order (sign-bit flip makes signed sort
  * order match), updating per micro-batch via mapGroupsWithState and
  * emitting one refreshed estimate row per touched group (Update mode).
  * No timeout: a group's sketch lives as long as the query — k longs.
  */
object SketchStreams {

  /** Persistent per-group state: the k smallest distinct signed hashes,
    * kept sorted by unsigned value.
    */
  case class KmvState(kmins: Array[Long])

  /** One refreshed sketch row — same fields (names AND derivations) as
    * the batch `q_kmv_distinct` output.
    */
  case class KmvUpdate(grp: String, n_kept: Long, kth_uh: String, est_distinct: Double)

  private val M64d = math.pow(2, 64)

  /** Unsigned-exact double of a signed-bits 64-bit hash — same correctly-
    * rounded conversion the batch tier gets from DECIMAL(20,0) → DOUBLE.
    */
  private def unsignedDouble(h: Long): Double =
    new java.math.BigDecimal(java.lang.Long.toUnsignedString(h)).doubleValue

  /** floor(x·10⁶ + 0.5)/10⁶ — the Stable.stab IEEE sequence, JVM-side. */
  private def stab6(x: Double): Double = graft.functions.Stable.stab6(x)

  private[graft] def foldState(prev: Array[Long], incoming: Iterator[Long],
                               k: Int): Array[Long] =
    (prev.iterator ++ incoming).toArray.distinct
      .sortBy(_ ^ Long.MinValue) // sign-bit flip: signed order ≡ unsigned
      .take(k)

  private[graft] def emit(grp: String, kmins: Array[Long], k: Int): KmvUpdate = {
    val nKept = kmins.length
    val kth = kmins.last
    val est =
      if (nKept < k) nKept.toDouble
      else stab6((k - 1).toDouble * M64d / unsignedDouble(kth))
    KmvUpdate(grp, nKept.toLong, java.lang.Long.toUnsignedString(kth), est)
  }

  /** One flagged ingest row from `seenStream`: `novel` is false iff the
    * content hash was seen earlier in the stream (or is a bloom false
    * positive — the one-sided error, see seenStream).
    */
  case class SeenFlag(doc_id: Long, novel: Boolean)

  /** Per-bucket running bloom state for `seenStream`. */
  case class SeenState(bits: Array[Long])

  /** Running content-seen filter over an unbounded ingest stream — the
    * crawler frontier's "have I seen these bytes before?" test (the
    * URL-seen/content-seen structure of Heydon & Najork's Mercator,
    * 1999), with provably bounded state. Where `Dedup.bloomNovelDocs`
    * checks a batch against a STATIC corpus (and is exact, because the
    * maybe-slice gets an exact verify), this checks each arriving doc
    * against EVERYTHING THE STREAM ITSELF HAS SEEN SO FAR — a set that
    * grows without bound, so a lossless check would hold unbounded
    * state. The stream keeps a bloom instead and accepts the bloom's
    * one-sided error:
    *
    *   - a duplicate is NEVER flagged novel (no false negatives — the
    *     direction that matters: nothing seen sneaks back in);
    *   - a novel doc is flagged dup with probability ≈ the filter's FP
    *     rate at its current load (sized by numBits; a production
    *     deployment rotates/fold the filter as load approaches design).
    *
    * Scale shape: ONE global filter would serialize every doc through a
    * single state key, so the hash space is partitioned into `buckets`
    * groups, each holding an independent `numBits/buckets`-bit slice — a
    * doc's hash deterministically owns one bucket, so the sliced filter
    * carries the same total bit budget and (under xxhash64's uniform
    * spread) the same expected FP rate as one big filter, while updates
    * parallelize across the shuffle. The bucket key is a FINALIZER-MIXED
    * xh (murmur fmix64), not `xh mod buckets` (round 12): the raw mod
    * equals the low bits of h1 that also form the i=0
    * Kirsch–Mitzenmacher probe, so within a bucket the first probe
    * addressed only sliceBits/buckets slots and simulation showed FP
    * ~2.3× the one-big-filter rate at the defaults; the mix makes the
    * bucket key statistically independent of every probe position at any
    * (numBits, buckets) configuration.
    * State per bucket: numBits/buckets/8 bytes, forever. Within a
    * micro-batch a bucket's rows are processed in doc_id order, so the
    * member of an intra-batch duplicate pair that gets the `novel` flag
    * is deterministic. Run with OutputMode.Append (every row is emitted
    * exactly once).
    */
  def seenStream(rows: DataFrame, numBits: Int = 1 << 20, numHashes: Int = 5,
                 buckets: Int = 64): Dataset[SeenFlag] = {
    require(numBits % buckets == 0 && (numBits / buckets) % 64 == 0,
      s"numBits=$numBits must split into $buckets word-aligned slices")
    val sliceBits = numBits / buckets
    require((sliceBits & (sliceBits - 1)) == 0, s"slice size $sliceBits must be a power of two")
    import rows.sparkSession.implicits._
    rows
      .select(col("doc_id").cast("long").as("doc_id"),
        xxhash64(col("text")).as("xh"))
      .as[(Long, Long)]
      .groupByKey { case (_, xh) =>
        // murmur3 fmix64: an independent view of xh for routing, leaving
        // the raw xh for the in-slice probes (see scale-shape note above)
        var z = xh
        z ^= z >>> 33; z *= 0xff51afd7ed558ccdL; z ^= z >>> 33
        z *= 0xc4ceb9fe1a85ec53L; z ^= z >>> 33
        java.lang.Long.remainderUnsigned(z, buckets)
      }
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[(Long, Long)], state: GroupState[SeenState]) => {
          val bits = state.getOption.map(_.bits)
            .getOrElse(new Array[Long](sliceBits >>> 6))
          val out = it.toArray.sortBy(_._1).map { case (docId, xh) =>
            val dup = graft.functions.BloomAgg.mightContain(bits, numHashes, xh)
            if (!dup) graft.functions.BloomAgg.set(bits, numHashes, xh)
            SeenFlag(docId, novel = !dup)
          }
          state.update(SeenState(bits))
          out.iterator
        })
  }

  /** Running KMV distinct sketch per group. `rows` is a streaming
    * DataFrame; keys are hashed with Spark's `xxhash64` (seed 42) before
    * the stateful fold, exactly like the batch tier. Emits one updated
    * (grp, n_kept, kth_uh, est_distinct) row per touched group per
    * micro-batch — run with OutputMode.Update.
    */
  def kmvStream(rows: DataFrame, groupCol: String, keyCol: String,
                k: Int): Dataset[KmvUpdate] = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    import rows.sparkSession.implicits._
    rows
      .select(col(groupCol).cast("string").as("grp"), xxhash64(col(keyCol)).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (grp: String, it: Iterator[(String, Long)], state: GroupState[KmvState]) => {
          val merged = foldState(
            state.getOption.map(_.kmins).getOrElse(Array.empty[Long]),
            it.map(_._2), k)
          state.update(KmvState(merged))
          emit(grp, merged, k)
        })
  }

  /** Streaming Count-Min sketch ingest — the additive-sketch fold at its
    * purest: each micro-batch computes its OWN d×w sketch with the exact
    * batch operator (`Sketch.cmsSketch` — distributed, map-side-collapsed
    * to ≤ d·w cells) and commits it batch-keyed; the live sketch is the
    * cell-wise SUM of committed batches ([[cmsState]]). Because CMS
    * merges by addition, the folded state equals the batch sketch of the
    * prefix union exactly (SketchStreamSpec pins every prefix), and the
    * batch-keyed layout makes crash-replay a state no-op — the same
    * BatchCommit discipline as every ingest in the repo, with no
    * single-task stateful fold anywhere (contrast kmvStream's per-group
    * state: a CMS state is one FIXED d·w table, so the scalable shape is
    * ledger-sum, not mapGroupsWithState).
    */
  def cmsIngest(docs: DataFrame, stateDir: String,
                d: Int = 4, w: Int = 256): org.apache.spark.sql.streaming.StreamingQuery =
    graft.operators.BatchCommit.sink(docs) { (batch, batchId) =>
      graft.operators.BatchCommit.inBatch(batch, batchId, stateDir)(
        _.write(graft.operators.Sketch.cmsSketch(batch, d, w), stateDir))
    }

  /** The live CMS: cell-wise sum over committed batch sketches. ≤ d·w
    * rows regardless of stream length.
    */
  def cmsState(spark: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame = {
    val dirs = graft.operators.BatchCommit.committedBatchDirs(spark, stateDir)
    if (dirs.isEmpty)
      spark.emptyDataFrame
        .select(lit(0).as("r"), lit(0).as("c"), lit(0L).as("cnt")).limit(0)
    else
      spark.read.parquet(dirs: _*)
        .groupBy("r", "c").agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
  }

  case class MgState(n: Long, sums: Map[String, Long])
  case class MgRow(grp: String, item: String, cnt: Long, n_total: Long)

  /** Running Misra–Gries frequent-items summary per group — the streaming
    * twin of `Sketch.heavyHitters`' pass 1: per-group state is the ≤ k
    * (item → residual) map plus the stream length, folded with the SAME
    * `MgAgg.reduce` the batch tier uses, over `seqCol` order within each
    * micro-batch (MG is order-sensitive; an explicit sequence makes the
    * stream's fold identical to the batch fold over the prefix — the
    * kmvStream discipline, which is what lets SketchStreamSpec pin
    * state equality at every prefix, on top of the order-independent
    * deficiency guarantee: every item with true count > n/(k+1) is in
    * the summary). Emits the full ≤ k-row summary of each touched group
    * per micro-batch — run with OutputMode.Append; downstream keeps the
    * rows with the highest n_total per group. The exact-recount pass 2
    * stays a batch job over the candidates, as in the two-pass query.
    */
  def mgStream(rows: DataFrame, groupCol: String, itemCol: String,
               seqCol: String, k: Int): Dataset[MgRow] = {
    require(k >= 1, s"misra-gries needs k >= 1, got $k")
    import rows.sparkSession.implicits._
    val agg = new graft.functions.MgAgg(k)
    rows
      .select(col(groupCol).cast("string").as("grp"),
        col(itemCol).cast("string").as("item"), col(seqCol).cast("long").as("seq"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (grp: String, it: Iterator[(String, String, Long)],
         state: GroupState[MgState]) => {
          val prev = state.getOption.getOrElse(MgState(0L, Map.empty))
          val items = it.toArray.sortBy(_._3)
          val m = items.foldLeft(prev.sums)((acc, t) => agg.reduce(acc, t._2))
          val n = prev.n + items.length
          state.update(MgState(n, m))
          m.toSeq.sortBy { case (w, c) => (-c, w) }
            .map { case (w, c) => MgRow(grp, w, c, n) }.iterator
        })
  }
}
