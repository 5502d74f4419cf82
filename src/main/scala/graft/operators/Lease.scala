package graft.operators

import org.apache.hadoop.fs.Path

import java.nio.charset.StandardCharsets

/** Maintenance-window lease — the mechanism that used to be a contract.
  *
  * Compaction/retrain jobs swap directory generations under a state or
  * index dir and MUST NOT race the owning ingest: a batch assigned/celled
  * by one generation landing next to another silently degrades the index
  * (the round-8 docs carried this as a caller-enforced "maintenance
  * window"). This file makes it mechanical:
  *
  *  - a maintenance job takes the lease (`withLease`) before its swap and
  *    releases it after — atomic create-no-overwrite, so two concurrent
  *    maintenance jobs cannot both hold it;
  *  - the micro-batch frame every ingest runs in (`BatchCommit.inBatch`)
  *    calls `check` at batch start and again after the batch's writes,
  *    and FAILS LOUDLY while a live lease is held — the streaming query
  *    errors, the checkpoint does not advance, and the batch replays
  *    idempotently once maintenance is done and the query restarted.
  *    Failing beats waiting here: a micro-batch that blocks holds its
  *    query's only execution thread with no progress signal, while a
  *    failed query is visible to the operator running the maintenance.
  *
  * The lease carries holder id + expiry. Expiry bounds the damage of a
  * maintenance job that died without releasing (its swap debris is
  * already self-healing via DirSwap.recover): an EXPIRED lease is ignored
  * by `check` and taken over atomically by the next `acquire`. TTL should
  * comfortably exceed the longest expected maintenance run — an expired
  * lease under a still-running job means the protection lapses (same
  * trade every lease-based lock makes). Atomicity is the store's
  * create-exclusive (HDFS/local POSIX; object stores want a real lock
  * service or table format — same caveat as DirSwap).
  */
object Lease {

  private val File = "_MAINT_LEASE"

  private def leasePath(baseDir: String) = new Path(baseDir, File)

  /** (holder, expiresAtMs) of the lease under `baseDir`, if present. */
  def read(baseDir: String): Option[(String, Long)] =
    DirSwap.readLines(leasePath(baseDir)).flatMap {
      case holder :: expiry :: _ => Some((holder, expiry.trim.toLong))
      case _ => None // malformed: treat as absent (acquire will replace)
    }

  private def live(lease: Option[(String, Long)], nowMs: Long): Boolean =
    lease.exists(_._2 > nowMs)

  /** Take the lease for `holder`, valid `ttlMs` from now. Throws if a
    * LIVE lease is held (by anyone — re-entry is not supported: one
    * maintenance job at a time is the whole point). An expired or
    * malformed lease is taken over by atomically RENAMING it aside
    * (rename loses for exactly one of two racers, and the loser re-reads
    * the winner's fresh lease and refuses) before the create-exclusive
    * write — so two racing acquirers can never both succeed, including
    * over an expired predecessor.
    */
  def acquire(baseDir: String, holder: String, ttlMs: Long,
              nowMs: Long = System.currentTimeMillis()): Unit = {
    val p = leasePath(baseDir)
    val fs = DirSwap.fsOf(p)
    val cur = read(baseDir)
    if (live(cur, nowMs))
      throw new IllegalStateException(
        s"$baseDir is under maintenance (lease held by '${cur.get._1}' until " +
          s"${cur.get._2}) — refusing to take a second lease")
    fs.mkdirs(new Path(baseDir))
    if (cur.isDefined) {
      // expired/malformed takeover: rename is the atomic arbiter — the
      // loser's rename fails (source already gone) and its create below
      // then collides with the winner's fresh lease
      val tomb = new Path(baseDir, s"$File.expired.${java.util.UUID.randomUUID()}")
      if (!fs.rename(p, tomb))
        throw new IllegalStateException(
          s"$baseDir lease takeover lost a race — another acquirer got there first")
      fs.delete(tomb, false)
    }
    val out = fs.create(p, false) // create-exclusive: racing acquirer fails
    try out.write(s"$holder\n${nowMs + ttlMs}\n".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Release `holder`'s lease. Releasing a lease someone else re-acquired
    * (this holder's expired and was stolen) is a no-op — never delete
    * another holder's protection. `withLease` makes holders unique per
    * run, so a stale release can never match a successor that reused the
    * same job NAME.
    */
  def release(baseDir: String, holder: String): Unit = {
    val p = leasePath(baseDir)
    val fs = DirSwap.fsOf(p)
    if (read(baseDir).exists(_._1 == holder)) fs.delete(p, false)
  }

  /** The frame's guard (`BatchCommit.inBatch`): throw while a live lease
    * is held; IGNORE an expired one (a maintenance job that died without
    * releasing must not wedge ingest forever — its swap debris is handled
    * by DirSwap.recover). Expired leftovers are garbage-collected by the
    * next `acquire`'s atomic takeover, never here: a check-side delete
    * would race a fresh acquirer (read-expired → acquirer creates →
    * delete removes the LIVE lease), exactly the window the rename
    * arbiter exists to close.
    */
  def check(baseDir: String, nowMs: Long = System.currentTimeMillis()): Unit = {
    val cur = read(baseDir)
    if (live(cur, nowMs))
      throw new IllegalStateException(
        s"$baseDir is under maintenance (lease held by '${cur.get._1}' until " +
          s"${cur.get._2}) — ingest must not write during a generation swap; " +
          "retry after the maintenance job releases the lease")
  }

  /** Run `body` under the lease: acquire → body → release (always). The
    * on-disk holder is `name@<uuid>` — unique per run, so a crashed
    * run's belated `release` can never delete a successor's live lease
    * even though both runs share the job NAME (the round-9 review's
    * takeover-scenario fix).
    */
  def withLease[T](baseDir: String, name: String,
                   ttlMs: Long = 60 * 60 * 1000L)(body: => T): T = {
    val holder = s"$name@${java.util.UUID.randomUUID()}"
    acquire(baseDir, holder, ttlMs)
    try body finally release(baseDir, holder)
  }
}
