package graft.streaming

import graft.operators.{BatchCommit, DirSwap, IncrementalIndex, Lease}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twins of the document-pipeline operators — the shapes an
  * always-on ingest for a training corpus needs.
  */
object DocStreams {

  /** Streaming exact dedup: drop any document whose content digest was
    * already seen, keeping the first arrival (the streaming twin of
    * Dedup.exact's keep-the-minimum rule under arrival order).
    *
    * State discipline for an unbounded corpus: the digest store can't grow
    * forever, so dedup state is scoped by the event-time watermark
    * (`dropDuplicatesWithinWatermark`) — a duplicate arriving within
    * `horizon` of the original is dropped, state older than the watermark
    * is evicted. A 100 TB/day ingest pairs this bounded-horizon pass with
    * the periodic batch `dedup_keep` job for full-history dedup; md5 state
    * is 16 bytes/doc either way, never the payload.
    */
  def dedupExact(docs: DataFrame, horizon: String = "10 minutes"): DataFrame =
    docs.withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Per-gram state of [[noveltyFlagsStream]]: the smallest doc_id that
    * has carried this shingle so far — ONE long per distinct gram, the
    * minimum state exact novelty admits.
    */
  case class GramFirst(firstDoc: Long)

  /** One flagged (doc, gram) row: `seen` iff an EARLIER doc (smaller
    * doc_id, stream-prefix-wide) carried the same shingle key.
    */
  case class NovelFlag(doc_id: Long, shk: Long, seen: Boolean)

  /** Streaming twin of `TextAnalysis.shingleNovelty` (text_novelty_
    * profile) — the boilerplate-detector dual of dedup as a LIVE ingest
    * signal: per arriving doc, which of its distinct shingles the corpus
    * has already seen. The fold is gram-keyed `flatMapGroupsWithState`
    * (the kmvStream discipline): state per gram is the min doc_id so
    * far, a seen flag is emitted per (doc, gram), and the per-doc
    * profile is ONE plain rollup of each micro-batch's flags
    * ([[noveltyProfile]], used from foreachBatch/the consumer) — a doc's
    * grams all surface in its own micro-batch, so the rollup is
    * stateless and Spark's multiple-stateful-operator restriction (no
    * event time here) is never hit.
    *
    * Parity contract: docs arriving in doc_id order make the stream's
    * accumulated profiles EQUAL the batch operator over every prefix
    * (spec-pinned at each micro-batch in StreamingSpec) — within a
    * micro-batch rows fold in doc_id order, so intra-batch order is
    * handled; cross-batch reordering shifts which member of a pair is
    * "first", the same in-order caveat the curation twin documents.
    * Shingling (normalize → 3-gram fold → per-doc distinct → 60-bit md5
    * key) is row-local — `array_distinct` before the explode, because
    * the batch tier's `.distinct()` is a streaming-illegal aggregation.
    *
    * State: |distinct grams| × one long — corpus-proportional like every
    * exact-novelty store; the bounded-memory alternative with one-sided
    * error is the bloom `seenStream`, and a production deployment
    * snapshots/rotates this state like the LSH band index.
    */
  def noveltyFlagsStream(docs: DataFrame, n: Int = 3): org.apache.spark.sql.Dataset[NovelFlag] = {
    import docs.sparkSession.implicits._
    import graft.functions.TextOps
    val arr = TextOps.splitWords(TextOps.normalize(col("text")))
    val sh = TextOps.ngrams(col("arr"), n)
    docs.select(col("doc_id").cast("long").as("doc_id"), arr.as("arr"))
      .filter(size(col("arr")) >= n)
      .select(col("doc_id"), explode(array_distinct(sh)).as("shingle"))
      .select(col("doc_id"), graft.operators.Dedup.shingleKey(col("shingle")).as("shk"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        (shk: Long, it: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[GramFirst]) => {
          var first = state.getOption.map(_.firstDoc).getOrElse(Long.MaxValue)
          val out = it.map(_._1).toArray.sorted.map { d =>
            val seen = first < d
            if (d < first) first = d
            NovelFlag(d, shk, seen)
          }
          state.update(GramFirst(first))
          out.iterator
        })
  }

  /** Stateless per-doc rollup of a micro-batch's novelty flags — same
    * columns and derivations as the batch `shingleNovelty` output.
    */
  def noveltyProfile(flags: DataFrame): DataFrame =
    flags.groupBy("doc_id").agg(count(lit(1)).as("n_sh"),
        sum(when(col("seen"), 1L).otherwise(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_sh"), col("n_seen"),
        (col("n_seen").cast("double") / col("n_sh")).as("seen_frac"))

  /** Partition-bucket count for the streaming near-dup state: band rows
    * land in `bands × StateBuckets` parquet partitions keyed by
    * (band, bkt = pmod(bh, StateBuckets)). A micro-batch touches at most
    * min(batchRows × bands, bands × StateBuckets) of them, so the state
    * scan is pruned no matter how large the accumulated index grows.
    */
  val StateBuckets = 64

  private def stateBkt: org.apache.spark.sql.Column =
    pmod(col("bh"), lit(StateBuckets.toLong)).cast("int")

  private def bandsRoot(stateDir: String): String = s"$stateDir/bands"

  /** One micro-batch of streaming NEAR-dup dedup against an accumulated
    * signature index. Returns the batch's novel docs and their state rows;
    * the CALLER writes them batch-keyed (see dedupNearIngest).
    *
    * Mechanics (the production blocked-dedup shape, incrementalized):
    * fast-tier MinHash signatures for the batch; LSH band buckets joined
    * against BOTH the persisted index's band rows and the batch's own
    * (first-arrival-wins within a batch: doc_a < doc_b); candidates
    * verify on signature agreement (fraction of equal components >=
    * `minAgree` — the MinHash estimate of Jaccard, so state never holds
    * shingles or text). Docs with a verified prior/earlier match are
    * dropped; survivors' band rows become the batch's state rows.
    *
    * State layout (the IncrementalIndex move, applied to signatures): the
    * index persists its band rows directly — (bh, doc_id, h0..h11)
    * partitioned by (band, bkt) inside each committed `batch=<id>` dir —
    * instead of a flat signature table whose band rows were re-derived by
    * exploding the ENTIRE index every batch. The batch computes which
    * (band, bkt) buckets its own band rows hash into (a driver-side list
    * bounded by bands × StateBuckets, never by index size) and the state
    * scan prunes to exactly those parquet partitions: per-batch read cost
    * is O(touched buckets), not O(index). Each band row carries its doc's
    * full signature, so the verify step reads the matched state rows
    * themselves — no join back to a full signature table (which, keyed by
    * doc_id, could never prune). The denormalization costs
    * bands × ~104 B/doc (~0.6 KB at 6×2) vs 96 B/doc flat — storage
    * traded for never scanning the index.
    *
    * Replay determinism: `batchId` excludes the batch's OWN `batch=<id>`
    * state dir from the scan, so a crash-replay that runs AFTER this
    * batch's state was persisted still computes against exactly the
    * strictly-prior state — same novel set, same state rows, and the
    * batch-keyed overwrite (BatchCommit) makes the re-write a no-op.
    */
  def dedupNearLshBatch(batch: DataFrame, stateDir: String,
                        bands: Int = 6, rowsPerBand: Int = 2,
                        minAgree: Double = 0.5,
                        batchId: Long = Long.MinValue): (DataFrame, DataFrame) = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    validateState(spark, stateDir, bands, rowsPerBand)
    val n = bands * rowsPerBand
    val sigCols = (0 until n).map(i => s"h$i")
    val sig = Dedup.minhashSignatures(Dedup.shingles(batch), n, Dedup.Xx)
      .localCheckpoint() // reused: band rows, verify b-side, state rows
    // batch band rows carry the signature — both the in-batch a-side and
    // the persisted state rows need it next to the band key
    val newBands = Dedup.bandRows(sig, bands, rowsPerBand, Dedup.Xx, carry = sigCols)
    val aSig = sigCols.map(c => col(s"x.$c").as(s"a_$c"))
    // candidate (earlier doc a + its signature, new doc b): a from the
    // pruned state partitions, or an earlier doc of the same batch
    val priorCand = prunedStateBands(spark, stateDir, touchedBuckets(newBands),
        exclude = Some(batchId))
      .map { p =>
        p.as("x").join(newBands.as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
          .select(col("x.doc_id").as("doc_a") +: aSig :+
            col("y.doc_id").as("doc_b"): _*)
      }
    val batchCand = newBands.as("x").join(newBands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a") +: aSig :+
        col("y.doc_id").as("doc_b"): _*)
    // a_h* is a function of doc_a, so this distinct ≡ distinct (doc_a, doc_b)
    val cand = priorCand.map(_.unionAll(batchCand)).getOrElse(batchCand).distinct()
    val agree = sigCols.map(c =>
      when(col(s"a_$c") === col(s"b.$c"), 1).otherwise(0)).reduce(_ + _)
      .cast("double") / n
    val dupIds = cand
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .filter(agree >= minAgree)
      .select(col("doc_b").as("doc_id")).distinct()
      // batch-bounded id set, checkpointed so (a) the candidate + verify
      // subtree runs once even though both returned frames consume it, and
      // (b) neither returned plan reads stateDir at write time — the state
      // write can never race its own batch's reads
      .localCheckpoint()
    (batch.join(dupIds, Seq("doc_id"), "left_anti"),
      newBands.join(dupIds, Seq("doc_id"), "left_anti")
        .withColumn("bkt", stateBkt))
  }

  /** The (band, bkt) state partitions a batch's band rows can possibly
    * match — a driver-side collect bounded by bands × StateBuckets
    * (≤ 384 at the defaults), independent of batch or index size.
    */
  private def touchedBuckets(newBands: DataFrame): Seq[(Int, Int)] =
    newBands.select(col("band"), stateBkt.as("bkt")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq

  /** The state's committed band rows pruned to `touched` (band, bkt)
    * buckets — an OR-of-conjunctions over the two partition columns, so
    * each batch dir's parquet scan PartitionFilters (spec-locked) skip
    * every untouched bucket. Reads ONLY committed `batch=*` dirs
    * (BatchCommit), minus `exclude` (a replaying batch must not see its
    * own previous attempt). None until a first batch has committed state.
    * A half-completed compaction swap THROWS (`DirSwap.requireClean`)
    * instead of being mistaken for empty state — the round-6 version
    * silently ignored the entire accumulated index when a crash stranded
    * it in `bands_old`, re-admitting every duplicate from then on.
    */
  private[graft] def prunedStateBands(spark: SparkSession,
                                      stateDir: String,
                                      touched: Seq[(Int, Int)],
                                      exclude: Option[Long] = None): Option[DataFrame] = {
    DirSwap.requireClean(stateDir, "bands")
    val dirs = BatchCommit.committedBatchDirs(spark, bandsRoot(stateDir), exclude)
    if (dirs.isEmpty || touched.isEmpty) None
    else {
      val hit = touched.map { case (b, k) =>
        col("band") === b && col("bkt") === k
      }.reduce(_ || _)
      // basePath (see BatchCommit.readCommitted): batch is a partition
      // column here, dropped after the (band, bkt)-pruning filter
      Some(spark.read.option("basePath", bandsRoot(stateDir)).parquet(dirs: _*)
        .filter(hit).drop("batch"))
    }
  }

  /** All committed state band rows — the maintenance/inspection view
    * (tests, compaction, operational queries). Empty-schema-free: None
    * until a first batch commits.
    */
  def stateBands(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    DirSwap.requireClean(stateDir, "bands")
    BatchCommit.readCommitted(spark, bandsRoot(stateDir))
  }

  /** Manifest recording the state dir's layout parameters. Band rows only
    * carry h-columns and a bucket id, so a state dir written with
    * DIFFERENT bands/rowsPerBand is structurally plausible and would
    * either fail late at analysis time (missing h columns) or — worse —
    * silently band-hash over a different column grouping. The manifest
    * pins (layout version, bands, rowsPerBand, buckets) at first ingest
    * and every later open validates against it. Layout `bands-v2` is the
    * batch-keyed idempotent layout; a `bands-v1` (flat-append) manifest
    * refuses to open rather than mixing commit protocols.
    */
  private val ManifestFile = "MANIFEST"
  private val LayoutVersion = "bands-v2"

  private[graft] def writeManifestIfAbsent(spark: SparkSession, stateDir: String,
                                           bands: Int, rowsPerBand: Int): Unit = {
    val manifest = new Path(stateDir, ManifestFile)
    if (!DirSwap.fsOf(manifest).exists(manifest))
      DirSwap.writeAtomic(manifest, Seq(s"layout=$LayoutVersion", s"bands=$bands",
        s"rowsPerBand=$rowsPerBand", s"buckets=$StateBuckets"))
  }

  /** Fail loudly on a state dir this ingest cannot safely write to:
    * manifest parameters that disagree with the caller's (including a
    * flat-append `bands-v1` manifest), a legacy (round-5 flat-signature)
    * layout whose `_SUCCESS` sits at the root, a pre-manifest v1 bands
    * layout (`band=*` dirs directly under `bands/`), or a signature width
    * that contradicts bands×rowsPerBand.
    */
  private[graft] def validateState(spark: SparkSession, stateDir: String,
                                   bands: Int, rowsPerBand: Int): Unit = {
    val base = new Path(stateDir)
    val fs = DirSwap.fsOf(base)
    if (!fs.exists(base)) return
    val manifest = DirSwap.readLines(new Path(base, ManifestFile))
    if (manifest.isDefined) {
      val kv = manifest.get.flatMap { l => l.split("=", 2) match {
        case Array(k, v) => Some(k -> v); case _ => None } }.toMap
      val want = Map("layout" -> LayoutVersion, "bands" -> bands.toString,
        "rowsPerBand" -> rowsPerBand.toString, "buckets" -> StateBuckets.toString)
      val bad = want.filter { case (k, v) => !kv.get(k).contains(v) }
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"near-dup state $stateDir was written with ${kv.toSeq.sorted.mkString(", ")} " +
            s"but this ingest expects ${want.toSeq.sorted.mkString(", ")} — " +
            "refusing to mix layouts")
    } else if (fs.exists(new Path(base, "_SUCCESS")) && !fs.exists(new Path(base, "bands"))) {
      throw new IllegalStateException(
        s"$stateDir holds a legacy flat-signature near-dup state (pre band-partitioned " +
          "layout); rebuild the state dir — writing band rows next to it would " +
          "silently ignore the accumulated index")
    } else {
      val bandsPath = new Path(base, "bands")
      if (fs.exists(bandsPath) &&
          fs.listStatus(bandsPath).exists(_.getPath.getName.startsWith("band=")))
        throw new IllegalStateException(
          s"$stateDir/bands holds a flat-append (bands-v1) layout; rebuild the state " +
            "dir — batch-keyed writes next to v1 appends would split the index across " +
            "two commit protocols and readers would see only one of them")
      val dirs = BatchCommit.committedBatchDirs(spark, bandsRoot(stateDir))
      if (dirs.nonEmpty) {
        val n = bands * rowsPerBand
        // all committed dirs (basePath): a single empty batch dir — a
        // replayed batch whose rows were absorbed by compaction — has no
        // footer to infer a schema from on its own
        val fields = spark.read.option("basePath", bandsRoot(stateDir))
          .parquet(dirs: _*).schema.fieldNames.toSet
        if (!fields.contains(s"h${n - 1}") || fields.contains(s"h$n"))
          throw new IllegalStateException(
            s"near-dup state $stateDir has a signature width incompatible with " +
              s"bands=$bands rowsPerBand=$rowsPerBand")
      }
    }
  }

  /** Always-on streaming near-dup dedup: novel docs land in `outDir`,
    * band-partitioned signature state accumulates under
    * `stateDir/bands/batch=<id>`. foreachBatch (not a stateful operator)
    * because the dedup state is a persistent, queryable table shared with
    * batch jobs — the same layout decision as IncrementalIndex.
    *
    * Replay safety (at-least-once foreachBatch made idempotent): both
    * writes are batch-id-keyed overwrites gated by BatchCommit — a
    * re-delivered batch recomputes against the same strictly-prior state
    * (its own `batch=<id>` state dir is excluded from the scan) and
    * overwrites its own previous attempt with identical content, so crash
    * anywhere between the writes and the checkpoint commit re-emits
    * NOTHING: no duplicate docs in the curated output, no duplicate state
    * rows. Readers (`readOutput`/`stateBands`) see only committed batch
    * dirs, so a half-written attempt is invisible until its replay.
    *
    * `compactEvery` > 0 folds state maintenance into the ingest itself:
    * every Nth committed batch rewrites the state to one file per
    * (band, bkt) bucket inside the same foreachBatch callback.
    * foreachBatch invocations are serialized per query, so the compaction
    * swap can never race this query's own appends — the cadence IS the
    * maintenance window; a crash mid-swap self-heals via the
    * `DirSwap.recover` call at the top of the next invocation.
    */
  def dedupNearIngest(docs: DataFrame, stateDir: String, outDir: String,
                      bands: Int = 6, rowsPerBand: Int = 2,
                      minAgree: Double = 0.5, compactEvery: Int = 0): StreamingQuery =
    nearDupIngest(docs, stateDir, outDir, bands, rowsPerBand, compactEvery)(
      dedupNearLshBatch(_, stateDir, bands, rowsPerBand, minAgree, _))

  /** The one near-dup ingest under [[dedupNearIngest]], [[curateIngest]]
    * and [[curateFullIngest]]; they differ only in `novelOf`, the batch
    * function returning (novel docs, their state rows). An EXTERNAL
    * maintenance job (compactState run outside this query's own cadence)
    * holds the state dir's Lease, which the frame checks before and after
    * the writes; a compaction crashed mid-swap self-heals here first. The
    * own-cadence compaction folds this batch's state dir legitimately: the
    * frame's verify accepts its ledger entry.
    */
  private def nearDupIngest(docs: DataFrame, stateDir: String, outDir: String,
                            bands: Int, rowsPerBand: Int, compactEvery: Int)(
      novelOf: (DataFrame, Long) => (DataFrame, DataFrame)): StreamingQuery =
    BatchCommit.sink(docs) { (batch, batchId) =>
      BatchCommit.inBatch(batch, batchId, stateDir) { w =>
        DirSwap.recover(stateDir)
        val (novel, novelState) = novelOf(batch, batchId)
        w.write(novel, outDir)
        w.write(novelState, bandsRoot(stateDir), Seq("band", "bkt"))
        writeManifestIfAbsent(batch.sparkSession, stateDir, bands, rowsPerBand)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          compactState(batch.sparkSession, stateDir)
      }
    }

  /** Committed-batches view of a batch-keyed output dir — what a
    * downstream consumer of the curated/deduped corpus reads. None until
    * the first batch commits.
    */
  def readOutput(spark: SparkSession, outDir: String): Option[DataFrame] =
    BatchCommit.readCommitted(spark, outDir)

  /** Compact the near-dup signature state: ingest commits one batch dir
    * per micro-batch, so after N batches listing the state costs O(N).
    * Fold every committed batch dir into a single `batch=compact` dir with
    * one file per live (band, bkt) bucket (`BatchCommit.fold`) —
    * crash-recoverable (marker + roll forward). The maintenance window is
    * mechanical: the compaction holds the state dir's `Lease`, and the
    * ingests' micro-batch frame checks it — an external compaction racing a
    * live ingest now fails the batch loudly instead of relying on caller
    * discipline (the compactEvery cadence inside the ingest's own
    * foreachBatch needs no lease ordering: check precedes take, within
    * one serialized callback). Dedup decisions are unchanged: rows are
    * untouched, only the dir layout shrinks (spec-pinned). A batch whose
    * rows were folded here and is then crash-replayed recomputes an empty
    * novel set — BatchCommit's committed-output guard keeps its original
    * output, and its (empty) state re-write is harmless.
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Lease.withLease(stateDir, "state-compact") {
      val live = BatchCommit.committedBatchDirs(spark, bandsRoot(stateDir))
      // hash-repartition on exactly the partition cols → one task, and
      // therefore one file, per live (band, bkt) bucket
      if (live.nonEmpty) BatchCommit.fold(stateDir, "compact", Seq(("bands",
        spark.read.option("basePath", bandsRoot(stateDir)).parquet(live: _*).drop("batch")
          .repartition(col("band"), col("bkt")), Seq("band", "bkt"))))
    }

  /** One micro-batch of streaming CURATION — the streaming twin of the
    * batch `text_curate` composite. Stage order mirrors cost: the
    * row-local clean gates (TextAnalysis.cleanGate — no shuffle) drop the
    * bulk first, then the per-doc aggregates (repetition, bigram-LM NLL
    * against the PRE-TRAINED `lm` — a stream never retrains its scoring
    * model mid-flight), decontamination against the broadcast eval
    * shingle set, and finally stateful near-dup against the accumulated
    * signature index (dedupNearLshBatch, same state layout/replay
    * contract). Unseen bigrams have no row in the denormalized LM table,
    * so they don't contribute to a doc's score, and a doc with NO known
    * bigram fails the scoring join and is dropped — unknown-language text
    * reads as reject, the conservative curation default.
    *
    * Returns (curated novel docs, their state rows); the caller writes
    * them batch-keyed (see curateIngest).
    */
  def curateBatch(batch: DataFrame, lm: DataFrame, benchShingles: DataFrame,
                  stateDir: String, bands: Int = 6, rowsPerBand: Int = 2,
                  minAgree: Double = 0.5, maxRep: Double = 0.05,
                  maxNll: Double = 3.45, maxContam: Long = 4,
                  batchId: Long = Long.MinValue): (DataFrame, DataFrame) = {
    import graft.operators.{Dedup, TextAnalysis}
    val gated = batch.filter(TextAnalysis.cleanGate())
    val repOk = TextAnalysis.repetition(gated)
      .filter(col("rep_ratio") <= maxRep).select("doc_id")
    val nllOk = TextAnalysis.bigramNllFrom(TextAnalysis.bigramStream(gated), lm)
      .filter(col("avg_nll") <= maxNll).select("doc_id")
    val contam = Dedup.shingles(gated)
      .join(broadcast(benchShingles.select("shingle").distinct()), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      .filter(col("n_contaminated") > maxContam).select("doc_id")
    val kept = gated.join(repOk, "doc_id").join(nllOk, "doc_id")
      .join(contam, Seq("doc_id"), "left_anti")
    dedupNearLshBatch(kept, stateDir, bands, rowsPerBand, minAgree, batchId)
  }

  /** Always-on streaming curation: quality-gate + score + decontaminate +
    * near-dup each micro-batch, land curated docs in `outDir`, accumulate
    * signature state under `stateDir/bands/batch=<id>`. Same batch-keyed
    * idempotent replay contract as dedupNearIngest; the LM and eval
    * shingle set are fixed side inputs a pipeline versions with the
    * model, not per-batch state.
    */
  def curateIngest(docs: DataFrame, lm: DataFrame, benchShingles: DataFrame,
                   stateDir: String, outDir: String,
                   bands: Int = 6, rowsPerBand: Int = 2, minAgree: Double = 0.5,
                   maxRep: Double = 0.05, maxNll: Double = 3.45,
                   maxContam: Long = 4, compactEvery: Int = 0): StreamingQuery =
    nearDupIngest(docs, stateDir, outDir, bands, rowsPerBand, compactEvery)(
      curateBatch(_, lm, benchShingles, stateDir, bands, rowsPerBand, minAgree,
        maxRep, maxNll, maxContam, _))

  /** One micro-batch of streaming FULL curation — the streaming twin of
    * the batch `text_curate_full` composite: every [[curateBatch]] stage
    * (clean gates, repetition, LM NLL, n-gram decontamination, stateful
    * near-dup) PLUS the embedding-cosine decontamination gate n-gram
    * overlap cannot see (a paraphrased eval answer). The batch carries
    * its embedding next to the text (the real ingest shape — the embedder
    * runs upstream in the same stream); the eval vectors are a FIXED
    * prepared side input (Similarity.prepared layout), versioned with
    * the model like the LM and the eval shingle set.
    *
    * Gate placement mirrors the batch composite exactly: the semantic
    * verdict anti-joins the OUTPUT, while the signature state still
    * accumulates every quality survivor — so a later near-dup of a
    * semantically contaminated doc is suppressed as a duplicate in both
    * engines (were the contaminated doc kept out of state, its near-dups
    * would re-enter through the stream). The verdict itself is per-doc
    * and stateless (contaminationAgainst), so batch-prefix equality
    * holds whether it is computed at arrival or over the prefix.
    */
  def curateFullBatch(batch: DataFrame, lm: DataFrame, benchShingles: DataFrame,
                      evalVecs: DataFrame, stateDir: String,
                      bands: Int = 6, rowsPerBand: Int = 2,
                      minAgree: Double = 0.5, maxRep: Double = 0.05,
                      maxNll: Double = 3.45, maxContam: Long = 4,
                      cosThreshold: Double = 0.35,
                      batchId: Long = Long.MinValue): (DataFrame, DataFrame) = {
    val (novel, novelState) = curateBatch(batch.drop("embedding"), lm,
      benchShingles, stateDir, bands, rowsPerBand, minAgree, maxRep,
      maxNll, maxContam, batchId)
    val semContam = graft.operators.Similarity.contaminationAgainst(
        graft.operators.Similarity.prepared(
          batch.select(col("doc_id").as("vec_id"), col("embedding"))),
        evalVecs, cosThreshold)
      .select(col("vec_id").as("doc_id"))
    (novel.join(semContam, Seq("doc_id"), "left_anti"), novelState)
  }

  /** Always-on FULL streaming curation: [[curateIngest]] widened to both
    * decontamination modalities — same batch-keyed idempotent replay
    * contract, same state layout (a deployment can switch ingests
    * without a state migration).
    */
  def curateFullIngest(docs: DataFrame, lm: DataFrame, benchShingles: DataFrame,
                       evalVecs: DataFrame, stateDir: String, outDir: String,
                       bands: Int = 6, rowsPerBand: Int = 2, minAgree: Double = 0.5,
                       maxRep: Double = 0.05, maxNll: Double = 3.45,
                       maxContam: Long = 4, cosThreshold: Double = 0.35,
                       compactEvery: Int = 0): StreamingQuery =
    nearDupIngest(docs, stateDir, outDir, bands, rowsPerBand, compactEvery)(
      curateFullBatch(_, lm, benchShingles, evalVecs, stateDir, bands, rowsPerBand,
        minAgree, maxRep, maxNll, maxContam, cosThreshold, _))

  /** One micro-batch of streaming token-budget mixing: a greedy fill of
    * per-source token quotas against the strictly-prior committed totals
    * (own batch excluded, so a crash-replay recomputes the identical
    * decision). Within the batch, docs fill in content-hash order; the
    * running total is monotone, so the kept set is a per-source prefix —
    * the same rule as Curation.mixByTokens, just seeded at the source's
    * prior total. Returns (doc_id, source, n_tok, cum), cum the source's
    * cumulative kept-token total through this doc.
    *
    * Semantics vs the batch operator: batch mixByTokens fills by GLOBAL
    * hash order over the corpus; the stream fills in (arrival batch,
    * hash) order — first-come within the budget, the trade every
    * streaming quota fill makes. Sources without a quota are dropped.
    */
  def mixBatch(batch: DataFrame, quotas: Map[String, Long],
               totalsDir: String, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val qdf = quotas.toSeq.toDF("source", "tok_quota")
    val priorDirs = BatchCommit.committedBatchDirs(spark, totalsDir, Some(batchId))
    val prior =
      if (priorDirs.isEmpty) Seq.empty[(String, Long)].toDF("source", "prior")
      else spark.read.option("basePath", totalsDir).parquet(priorDirs: _*)
        .groupBy("source").agg(sum("toks").as("prior"))
    graft.operators.TextAnalysis.tokenCounts(batch)
      .select(col("doc_id"), col("alnum_tokens").as("n_tok"))
      .join(batch.select("doc_id", "source"), "doc_id")
      .join(broadcast(qdf), "source")
      .join(broadcast(prior), Seq("source"), "left")
      .withColumn("cum", coalesce(col("prior"), lit(0L)) + sum("n_tok").over(w))
      .filter(col("cum") <= col("tok_quota"))
      .select("doc_id", "source", "n_tok", "cum")
  }

  /** Always-on token-budget mixing: each micro-batch tops up the
    * per-source quotas until they fill, then passes nothing more from
    * that source. Kept docs land batch-keyed in `outDir`; the per-source
    * token contributions land batch-keyed in `totalsDir` (the quota
    * state — aggregate-sized, derived from the committed output dir
    * itself so a replayed batch re-reports exactly what it committed).
    */
  def mixIngest(docs: DataFrame, quotas: Map[String, Long],
                outDir: String, totalsDir: String): StreamingQuery =
    BatchCommit.sink(docs) { (batch, batchId) =>
      BatchCommit.inBatch(batch, batchId, totalsDir) { w =>
        w.write(mixBatch(batch, quotas, totalsDir, batchId), outDir)
        w.write(batch.sparkSession.read.parquet(BatchCommit.batchDir(outDir, batchId))
          .groupBy("source").agg(sum("n_tok").as("toks")), totalsDir)
      }
    }

  /** The always-on corpus pipeline in one query: stream in → dedup →
    * fold into the incremental search index (foreachBatch over
    * IncrementalIndex.ingestBatch, batch-id-keyed so a crash-replay
    * overwrites its own previous attempt instead of double-indexing the
    * batch). Duplicates never reach the index, so df counts stay correct
    * without any read-modify-write; the index is queryable concurrently
    * (committed batch dirs only). Dedup emits first arrivals immediately —
    * indexing latency is one micro-batch, not one watermark horizon.
    */
  def dedupIngest(docs: DataFrame, indexDir: String,
                  horizon: String = "10 minutes"): StreamingQuery =
    BatchCommit.sink(dedupExact(docs, horizon)) { (batch, batchId) =>
      IncrementalIndex.ingestBatch(batch.drop("text_hash"), indexDir, batchId)
    }
}
