package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch-id-keyed idempotent writes — the commit layer under every
  * streaming ingest here. Every ingest runs its micro-batches through ONE
  * frame (`sink` + `inBatch`), and every fold of a batch-keyed layout into
  * a new generation through ONE `fold`.
  *
  * foreachBatch gives at-least-once delivery: a crash between a batch's
  * side-effecting writes and the checkpoint commit re-delivers the batch.
  * Plain `mode("append")` then re-emits the batch's rows — duplicate docs
  * in the very corpus the dedup operators exist to protect. This layer
  * makes replay a no-op instead:
  *
  *  - every write lands in its own `root/batch=<id>` subdirectory, written
  *    with `mode("overwrite")` — a re-delivered batch (same id, stable
  *    under Structured Streaming's checkpoint) overwrites its own previous
  *    attempt, committed or partial, with identical content;
  *  - readers see only subdirectories holding a parquet commit marker
  *    (`_SUCCESS`), so a half-written batch dir from a crash is invisible
  *    until its replay completes it.
  *
  * No cross-table transaction is needed: each batch dir's content is a
  * deterministic function of the batch input (and, for stateful dedup,
  * of strictly-PRIOR batches' state — enforced by excluding the batch's
  * own dir from its state scan), so any interleaving of crash and replay
  * converges to the same committed state. The remaining assumption is the
  * store's atomic dir listing + rename (HDFS/local POSIX; object stores
  * want a table format instead — same caveat as DirSwap).
  */
object BatchCommit {

  def batchDir(root: String, batchId: Long): String = s"$root/batch=$batchId"

  private def committed(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** True iff `dir` holds at least one data file (any file not prefixed
    * `_`/`.`). A `partitionBy` write of an EMPTY frame commits only
    * `_SUCCESS`: no parquet footer anywhere, so if such dirs were a
    * scan's only inputs, schema inference would throw instead of
    * yielding empty state. Listing cost is hot-path-aware (this runs
    * per committed dir per micro-batch): the ONE direct listing decides
    * flat dirs (the common non-partitioned layout: data files sit at
    * the top) with no recursion; only dirs whose top level is all
    * subdirs/markers (partitioned layouts) pay a recursive iterator,
    * and that short-circuits at the first leaf file.
    */
  private def hasDataFile(fs: FileSystem, dir: Path): Boolean = {
    val top = fs.listStatus(dir)
    if (top.exists(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".")))
      return true
    if (!top.exists(_.isDirectory)) return false // flat and empty
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) return true
    }
    false
  }

  /** Committed `batch=*` subdirs under `root` (absent root → empty), in
    * name order. `exclude` drops one batch id — a stateful batch excludes
    * its OWN dir so recomputation on replay sees exactly the strictly-
    * prior state it saw the first time. Footer-less committed dirs (an
    * empty frame's commit — e.g. a batch replayed after compaction
    * absorbed its rows) are skipped: they contribute no rows, and as a
    * scan's sole input they'd fail schema inference rather than read as
    * empty.
    */
  def committedBatchDirs(spark: SparkSession, root: String,
                         exclude: Option[Long] = None): Seq[String] = {
    val base = new Path(root)
    val fs = DirSwap.fsOf(base)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).map(_.getPath)
      .filter(p => p.getName.startsWith("batch="))
      .filter(p => !exclude.exists(id => p.getName == s"batch=$id"))
      .filter(p => committed(fs, p))
      .filter(p => hasDataFile(fs, p))
      .map(_.toString).sorted.toSeq
  }

  /** Idempotent output write: overwrite `root/batch=<id>` — UNLESS that
    * dir is already committed (then keep it untouched) or the id appears
    * in the root's `_FOLDED` ledger (then its rows already live in a
    * consolidated dir — see `fold`). The committed-dir guard
    * matters when state compaction has folded this batch's state rows
    * into a combined dir: a replay then recomputes an EMPTY novel set
    * (the docs match their own absorbed signatures), and overwriting the
    * committed output with it would lose the docs. Committed output was
    * computed against the correct prior state; it is never recomputed.
    *
    * The ledger closes the case the committed-dir check cannot see: a
    * fold DELETES the per-batch dirs it absorbs, so a batch
    * crash-replayed from before the fold finds no `batch=<id>` dir and —
    * without the ledger — would re-write its rows NEXT TO their folded
    * copy (for the vector indexes, possibly assigned under a retrained
    * quantizer). With it, replay of an absorbed batch is a no-op on
    * state, uniformly with the committed case.
    *
    * Both guards assume a replayed batch recomputes IDENTICAL content — a
    * deterministic derivation over the same batch input and strictly-prior
    * state, which every ingest in this repo satisfies. They cannot detect
    * a derivation that changed BETWEEN attempts (a code upgrade
    * mid-stream, a nondeterministic upstream): the stale committed/folded
    * rows are silently kept. Cross-version replay therefore requires a
    * fresh checkpoint + state dir — the MANIFEST pins the state LAYOUT,
    * not the derivation.
    */
  def writeBatch(df: DataFrame, root: String, batchId: Long,
                 partitionCols: Seq[String] = Nil): Unit =
    if (!intact(df.sparkSession, root, batchId)) {
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(batchDir(root, batchId))
    }

  /** `root/batch=<id>` is committed, or its id is in the root's ledger. */
  private def intact(spark: SparkSession, root: String, batchId: Long): Boolean = {
    val dir = new Path(batchDir(root, batchId))
    committed(DirSwap.fsOf(dir), dir) || foldedIds(spark, root).contains(batchId)
  }

  /** The frame's post-write guard (see `inBatch`). */
  private def requireIntact(spark: SparkSession, root: String, batchId: Long): Unit =
    if (!intact(spark, root, batchId))
      throw new IllegalStateException(
        s"$root/batch=$batchId vanished between write and checkpoint commit " +
          "(a maintenance swap raced this batch?) — failing loudly so the " +
          "batch replays instead of silently losing its rows")

  /** What a micro-batch body writes through: `write` is `writeBatch` under
    * the batch's id, and it records the root, so the frame can verify every
    * root the body wrote.
    */
  final class Writer private[BatchCommit] (batchId: Long) {
    private[BatchCommit] val roots = scala.collection.mutable.LinkedHashSet.empty[String]

    def write(df: DataFrame, root: String, partitionCols: Seq[String] = Nil): Unit = {
      roots += root
      writeBatch(df, root, batchId, partitionCols)
    }
  }

  /** The frame every micro-batch of every ingest runs in:
    *
    *  1. `Lease.check(guardDir)` — a maintenance job holding the lease
    *     fails the batch loudly before it reads anything the job is about
    *     to replace;
    *  2. `body` — the batch's own steps, writing only through the `Writer`;
    *  3. `Lease.check(guardDir)` again, then every root the body wrote must
    *     still hold the batch: committed, or ledgered as folded (a replay
    *     whose write was absorbed, or an in-body compaction cadence that
    *     just folded it). A maintenance job that took the lease MID-batch
    *     could otherwise swap away the generation the batch just wrote
    *     into: the callback would return cleanly, the checkpoint would
    *     advance, and the rows would be lost (neither committed nor
    *     replayable). Failing here leaves the checkpoint unadvanced, and
    *     the post-maintenance replay recomputes against the new generation
    *     idempotently.
    *
    * An output that no maintenance job guards passes its output root as
    * `guardDir`: no lease is ever taken there, so both checks pass.
    */
  def inBatch(batch: DataFrame, batchId: Long, guardDir: String)(body: Writer => Unit): Unit = {
    Lease.check(guardDir)
    val w = new Writer(batchId)
    body(w)
    Lease.check(guardDir)
    w.roots.foreach(requireIntact(batch.sparkSession, _, batchId))
  }

  /** The one streaming sink: `perBatch` runs for every non-empty
    * micro-batch of `stream` (append mode) with its epoch id — stable
    * across a crash-replay, so it is the batch id `inBatch` keys by.
    */
  def sink(stream: DataFrame, trigger: Trigger = Trigger.ProcessingTime(0L))(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) perBatch(batch, batchId)
      }
      .start()

  private val FoldedFile = "_FOLDED"

  /** Batch ids absorbed by a fold of this root (empty when no fold ever
    * ran). One id per line; `_`-prefixed, so dir listings and data scans
    * ignore it.
    */
  def foldedIds(spark: SparkSession, root: String): Set[Long] =
    DirSwap.readLines(new Path(root, FoldedFile)).getOrElse(Nil)
      .filter(_.nonEmpty).map(_.trim.toLong).toSet

  /** Numeric ids of the committed batch dirs currently under `root` —
    * what a fold is about to absorb (`base`/`compact` generations carry
    * no replayable id and are skipped).
    */
  private def committedNumericIds(spark: SparkSession, root: String): Seq[Long] =
    committedBatchDirs(spark, root)
      .map(_.split("=").last)
      .flatMap(s => scala.util.Try(s.toLong).toOption)

  /** Write `newRoot/_FOLDED` = the committed ids under `prevRoot` ∪ the ids
    * already folded there (see `fold`).
    */
  private def recordFolded(spark: SparkSession, newRoot: String, prevRoot: String): Unit = {
    val all = (foldedIds(spark, prevRoot) ++ committedNumericIds(spark, prevRoot)).toSeq.sorted
    if (all.nonEmpty) DirSwap.writeAtomic(new Path(newRoot, FoldedFile), all.map(_.toString))
  }

  /** Fold a batch-keyed layout under `baseDir` into one new generation,
    * swapped in by ONE `DirSwap.swap` (so a crash anywhere recovers to a
    * single consistent generation of every table). Each `plain` table
    * (sub, rows) is written as its aside dir; each `keyed` table (sub,
    * rows, partition columns) as `aside/batch=<gen>`, and then:
    *
    *  - the aside's `_FOLDED` ledger gets the live root's committed ids
    *    plus the ids already folded there — so the ledger rides the
    *    generation it describes, and a batch crash-replayed from before
    *    the fold (whose own dir the fold deleted) skips its re-write
    *    instead of landing next to its folded copy, possibly under a
    *    retrained quantizer. Carrying earlier ids forward keeps replay of a
    *    long-stopped stream safe across several folds; a first build has
    *    none and writes no ledger;
    *  - the aside root is stamped complete, since its rows sit one level
    *    down, in `batch=<gen>`.
    *
    * The rows may read the live tables: nothing is renamed until every
    * aside write has completed. A caller that must exclude the ingest
    * (every fold over live streamed batches) runs this under
    * `Lease.withLease(baseDir, …)`.
    */
  def fold(baseDir: String, gen: String, keyed: Seq[(String, DataFrame, Seq[String])],
           plain: Seq[(String, DataFrame)] = Nil): Unit =
    DirSwap.swap(baseDir, plain.map { case (sub, rows) =>
      sub -> ((out: String) => rows.write.parquet(out))
    } ++ keyed.map { case (sub, rows, parts) =>
      sub -> { (out: String) =>
        rows.write.partitionBy(parts: _*).parquet(s"$out/batch=$gen")
        recordFolded(rows.sparkSession, out, s"$baseDir/$sub")
        DirSwap.markComplete(out)
      }
    })

  /** Committed-batches view of a batch-keyed dir: the rows every reader
    * (and the driver's oracle compare) should see. None until the first
    * batch commits. A `schema` spares the parquet footer read.
    */
  def readCommitted(spark: SparkSession, root: String,
                    schema: Option[StructType] = None): Option[DataFrame] = {
    val dirs = committedBatchDirs(spark, root)
    // explicit basePath: sibling batch=* roots otherwise make partition
    // discovery throw CONFLICTING_DIRECTORY_STRUCTURES; with it, `batch`
    // becomes a partition column — dropped so readers see the data schema
    // regardless of which batches exist (ids and `compact` mix types)
    if (dirs.isEmpty) None
    else Some(schema.fold(spark.read)(spark.read.schema).option("basePath", root)
      .parquet(dirs: _*).drop("batch"))
  }
}
