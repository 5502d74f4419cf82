package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialize a pure corpus function once per SF dir under /tmp and read
  * it back — the write-the-intermediate move shared by every persisted
  * artifact (shingles, MinHash signatures, simhash tiers, media, bigram
  * LM, embedding LSH sketch).
  *
  * The directory name embeds a fingerprint of the SOURCE parquet file
  * (length + mtime — a driver-side stat, no Spark job), so a regenerated
  * corpus invalidates the cache instead of silently serving stale data; a
  * changed derivation must still bump `suffix`. `_SUCCESS` gates reads: a
  * crashed write leaves no marker and the next call rebuilds. Stats and
  * the gate go through Hadoop `FileSystem` (not `java.io.File`), so the
  * gating works against whatever store the paths resolve to.
  */
object Persisted {
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Kind dirs whose layouts were superseded by renamed kinds (cache-busts
    * like `ivf`→`ivf-b1`) — deleted once per JVM on first Persisted use so
    * long-lived builders don't accumulate unreachable generations in /tmp.
    * Suffix/fingerprint bumps WITHIN a kind are pruned per call by
    * `pruneStale` instead (they share the kind dir with live entries).
    * NOT listed: `inc` — the incremental index cache-busts via a
    * version suffix (`IncVersion`) INSIDE the same kind dir, so its live
    * entries share /tmp/graft-inc with retired ones; a whole-dir delete
    * would wipe the live cache and force a full re-ingest per JVM. Its
    * children of other versions are swept individually below.
    */
  private val RetiredKinds = Seq("ivf", "ivfk", "index",
    // round 11: the gated trainer (md5 seeds + stab'd argmin) changed the
    // kmeans/PQ layouts — the b1 generations are unreachable
    "ivfk-b1", "pq-b1", "index-b2", // b2: the word-id-keyed search index
    "ivf-b1") // the label IVF index moved onto the k-means cells layout

  /** Version suffix of the incremental-index cache dirs: bump it with the
    * search index's layout or derivation. */
  private val IncVersion = "_v3"

  def incrementalDir(d: String): String = s"/tmp/graft-inc/${sanitized(d)}$IncVersion"

  private lazy val gcRetired: Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    RetiredKinds.foreach { k =>
      val p = new Path(s"/tmp/graft-$k")
      p.getFileSystem(conf).delete(p, true)
    }
    val inc = new Path("/tmp/graft-inc")
    val fs = inc.getFileSystem(conf)
    if (fs.exists(inc))
      fs.listStatus(inc).map(_.getPath)
        .filter(p => !p.getName.endsWith(IncVersion) || p.getName.startsWith("_"))
        .foreach(fs.delete(_, true))
  }

  /** The cache-entry name of data dir `d` — THE sanitizer of every
    * `/tmp/graft-*` cache: characters outside [A-Za-z0-9.] become `_`,
    * and leading `_`/`.` are dropped, since Spark skips a path whose name
    * starts with either as hidden (`All paths were ignored`).
    */
  def sanitized(d: String): String =
    d.replaceAll("[^A-Za-z0-9.]", "_").replaceAll("^[_.]+", "")

  /** Kind dirs swept of legacy entries in this JVM (see pruneStale). */
  private val swept = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Drop this corpus's superseded cache entries under the kind dir: any
    * sibling whose name shares the sanitized-SF-dir prefix but isn't the
    * current target was produced by an earlier suffix (derivation bump) or
    * fingerprint (regenerated source) and is unreachable — without this, a
    * long-lived builder leaks one generation per bump. Entries of OTHER SF
    * dirs never match the `prefix + "_"` test (suffixes and fingerprints
    * always start with `_`; no test SF dir's sanitized name is a proper
    * `_`-followed prefix of another's). The first call per kind dir in a
    * JVM also drops every `_`-prefixed entry: names the sanitizer made
    * before it dropped the leading `_`, unreachable since. An aside
    * `<keep>.build-<uuid>` is a concurrent builder's write in progress
    * and is kept: deleting it failed that builder's write.
    */
  private def pruneStale(fs: FileSystem, kindDir: Path, d: String,
                         keep: String): Unit = {
    if (!fs.exists(kindDir)) return
    val prefix = sanitized(d) + "_"
    val legacy = swept.add(kindDir.toString)
    fs.listStatus(kindDir).map(_.getPath)
      .filter(p => p.getName != keep && !p.getName.startsWith(s"$keep.build-") &&
        (p.getName.startsWith(prefix) || legacy && p.getName.startsWith("_")))
      .foreach(fs.delete(_, true))
  }

  def apply(s: SparkSession, d: String, kind: String, src: String,
            suffix: String = "")(build: => DataFrame): DataFrame = {
    gcRetired
    val name = s"${sanitized(d)}$suffix" + s"_${fingerprint(s, d, src)}"
    val dir = s"/tmp/graft-$kind/$name"
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    pruneStale(fs, dirPath.getParent, d, name)
    if (!fs.exists(new Path(dirPath, "_SUCCESS"))) {
      // Aside-write + atomic publish (the DirSwap discipline, round 12):
      // the round-11 in-place `mode("overwrite").parquet(dir)` let a
      // concurrent reader in ANOTHER JVM (the bench's recheck pass shares
      // /tmp/graft-*) plan over the old file listing and die mid-overwrite
      // (BENCH_r11's FAILED_READ_FILE). Now the cache dir only ever
      // appears fully formed via one directory rename; a lost publish
      // race is benign — the content is a pure function of
      // (kind, src fingerprint, suffix), so the winner's dir is
      // equivalent and we just drop our aside copy.
      val aside = new Path(s"$dir.build-${java.util.UUID.randomUUID}")
      val success = new Path(dirPath, "_SUCCESS")
      build.write.mode("overwrite").parquet(aside.toString)
      if (fs.exists(success)) fs.delete(aside, true)
      else {
        // The PUBLISH step (drop debris + rename aside in) runs under a
        // TTL'd lease so concurrent builders serialize: a bare
        // check-then-delete had a window where builder A could delete the
        // complete generation builder B published between A's _SUCCESS
        // re-check and A's delete (round-12 review finding). Under the
        // lock the re-check is authoritative — a complete dir is never
        // deleted, and readers only ever read dirs whose _SUCCESS they
        // saw through this same gate. A crashed publisher's lease expires
        // (TTL ≫ the rename's cost) and the next builder takes over;
        // losers drop their equivalent aside and wait for the winner's
        // marker.
        val owner = java.util.UUID.randomUUID.toString
        // lock lives OUTSIDE the kind dir: a sibling of the cache entry
        // would be swept by pruneStale (possibly mid-publish of another
        // JVM) and would trip exactly-one-generation assertions
        val lockDir = s"/tmp/graft-publocks/$kind-$name"
        def tryPublish(a: Path): Boolean = {
          val won =
            try { graft.operators.Lease.acquire(lockDir, owner, 120000L); true }
            catch { case _: IllegalStateException => false }
          if (won) try {
            if (!fs.exists(success)) { // authoritative under the lock
              fs.delete(dirPath, true)
              fs.rename(a, dirPath)
              // Hadoop local-rename copy-INTO-dst paranoia (can't happen
              // under the lock, but a leftover nested aside must not leak)
              fs.delete(new Path(dirPath, a.getName), true)
            }
            fs.delete(a, true)
          } finally {
            graft.operators.Lease.release(lockDir, owner)
            // drop the lock scaffolding; a racing acquirer re-creates it,
            // and post-publish acquirers no-op on the _SUCCESS re-check
            fs.delete(new Path(lockDir), true)
          }
          won
        }
        if (!tryPublish(aside)) {
          fs.delete(aside, true) // content is fingerprint-determined; winner's is equivalent
          // Wait for the winner's marker; if it never appears, the holder
          // crashed between acquire and publish and its TTL (120 s = our
          // wait) has expired — so TAKE OVER: rebuild an aside (ours is
          // gone) and retry the acquisition, making "the next builder
          // takes over" true within this call instead of throwing
          // (round-13 review fix). Bounded retries: another taker-over
          // losing again waits again; three crashed winners in a row is a
          // real outage worth the require below.
          var tries = 0
          while (!fs.exists(success) && tries < 3) {
            val deadline = System.currentTimeMillis() + 120000L
            while (!fs.exists(success) && System.currentTimeMillis() < deadline)
              Thread.sleep(100L)
            if (!fs.exists(success)) {
              val retry = new Path(s"$dir.build-${java.util.UUID.randomUUID}")
              build.write.mode("overwrite").parquet(retry.toString)
              if (!tryPublish(retry)) fs.delete(retry, true)
            }
            tries += 1
          }
        }
        require(fs.exists(success),
          s"cache publish left no complete generation for $dir")
      }
    }
    s.read.parquet(dir)
  }

  /** Source-parquet fingerprint (length + mtime — a driver-side stat). */
  def fingerprint(s: SparkSession, d: String, src: String): String = {
    val srcPath = new Path(s"$d/$src")
    val st = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(srcPath)
    s"${st.getLen}_${st.getModificationTime / 1000}"
  }

  /** Same discipline for MULTI-TABLE index layouts (built via
    * DirSwap.swap, not a single parquet write): resolve the
    * source-fingerprinted location, build on first use, and gate reads
    * with DirSwap.requireClean on `gateSub` — a crashed build is detected
    * and re-run, never read through. `DirSwap.recover` (idempotent) runs
    * first, so debris from a crashed build/compaction resolves to a clean
    * state here instead of making every later read throw until someone
    * recovers by hand — the gate is genuinely self-healing.
    */
  def indexDir(s: SparkSession, d: String, kind: String, src: String,
               gateSub: String)(build: String => Unit): String = {
    gcRetired
    val name = s"${sanitized(d)}_${fingerprint(s, d, src)}"
    val dir = s"/tmp/graft-$kind/$name"
    val dirPath = new Path(dir)
    pruneStale(dirPath.getFileSystem(s.sparkContext.hadoopConfiguration),
      dirPath.getParent, d, name)
    graft.operators.DirSwap.recover(dir)
    if (!graft.operators.DirSwap.requireClean(dir, gateSub)) build(dir)
    dir
  }
}
