package graft

import graft.operators.DirSwap
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Crash-safety of the maintenance primitive (`DirSwap`) and the state
  * hygiene around it: every crash window of the marker swap is constructed
  * on disk by hand and must recover to exactly one complete generation;
  * readers fail loudly mid-window; the near-dup state manifest refuses
  * incompatible layouts.
  */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** One-column parquet table whose rows identify a generation. */
  private def writeGen(dir: String, gen: String, n: Int = 3): Unit =
    spark.range(n).select(concat(lit(gen + "_"), col("id")).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(dir)

  private def readGen(dir: String): Set[String] = {
    import spark.implicits._
    spark.read.parquet(dir).select("v").as[String].collect().toSet
  }

  private def gen(g: String, n: Int = 3): Set[String] =
    (0 until n).map(i => s"${g}_$i").toSet

  private def marker(base: String, subs: String*): Unit =
    Files.write(Paths.get(base, "_SWAP_PENDING"),
      subs.mkString("\n").getBytes(StandardCharsets.UTF_8))

  private def mv(from: String, to: String): Unit =
    assert(new java.io.File(from).renameTo(new java.io.File(to)))

  test("lease: acquire/check/release lifecycle, expiry steal, loud double-acquire") {
    import graft.operators.Lease
    spark.version // Lease resolves FileSystems via the active session
    val base = tmp("lease")
    Lease.check(base) // no lease → pass
    Lease.acquire(base, "compact-a", ttlMs = 60000L)
    // live lease: ingest check and a second maintenance job both fail loudly
    val e1 = intercept[IllegalStateException](Lease.check(base))
    assert(e1.getMessage.contains("compact-a"))
    intercept[IllegalStateException](Lease.acquire(base, "compact-b", 60000L))
    // releasing someone else's lease is a no-op
    Lease.release(base, "compact-b")
    intercept[IllegalStateException](Lease.check(base))
    Lease.release(base, "compact-a")
    Lease.check(base) // released → pass
    // an expired lease (dead maintenance job) is ignored by check — but
    // NOT deleted there (a check-side delete would race a fresh
    // acquirer; GC belongs to acquire's atomic rename takeover)
    Lease.acquire(base, "crashed", ttlMs = -1L)
    Lease.check(base) // expired → pass
    assert(Lease.read(base).exists(_._1 == "crashed"))
    // ...and a new job takes over the expired lease atomically
    Lease.acquire(base, "successor", ttlMs = 60000L)
    assert(Lease.read(base).get._1 == "successor")
    // a crashed predecessor's belated release must not delete the
    // successor's live lease (withLease holders carry a unique nonce;
    // here distinct names model that)
    Lease.release(base, "crashed")
    assert(Lease.read(base).get._1 == "successor")
    Lease.release(base, "successor")
  }

  test("lease: an ingest batch arriving mid-compaction fails loudly, replays cleanly after") {
    import graft.operators.{IncrementalIndex, Lease}
    import spark.implicits._
    val idx = tmp("leaseidx")
    def mkDocs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .withColumn("source", lit("s")).withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    val docs = mkDocs((1L, "alpha beta"), (2L, "beta gamma"))
    IncrementalIndex.ingestBatch(docs, idx, batchId = 0L)
    // a maintenance job holds the dir (mid-compaction): the next batch
    // must fail loudly — the streaming checkpoint would not advance, so
    // the SAME batch id replays after the lease is released
    Lease.acquire(idx, "index-compact", ttlMs = 60000L)
    val more = mkDocs((3L, "gamma delta"))
    intercept[IllegalStateException](
      IncrementalIndex.ingestBatch(more, idx, batchId = 1L))
    Lease.release(idx, "index-compact")
    IncrementalIndex.ingestBatch(more, idx, batchId = 1L) // idempotent replay
    val df = IncrementalIndex.vocabulary(spark, idx)
      .as[(String, Long)].collect().toMap
    assert(df == Map("alpha" -> 1L, "beta" -> 2L, "gamma" -> 2L, "delta" -> 1L))
    // the real compaction takes (and releases) the lease itself
    IncrementalIndex.compact(spark, idx)
    assert(Lease.read(idx).isEmpty)
    val df2 = IncrementalIndex.vocabulary(spark, idx)
      .as[(String, Long)].collect().toMap
    assert(df2 == df)
  }

  test("folded-batch ledger: a pre-fold batch replayed after compaction is a state no-op") {
    import graft.operators.{BatchCommit, IncrementalIndex}
    import spark.implicits._
    val idx = tmp("foldidx")
    def mkDocs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .withColumn("source", lit("s")).withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    IncrementalIndex.ingestBatch(mkDocs((1L, "alpha beta")), idx, batchId = 0L)
    IncrementalIndex.ingestBatch(mkDocs((2L, "beta gamma")), idx, batchId = 1L)
    def df = IncrementalIndex.vocabulary(spark, idx)
      .as[(String, Long)].collect().toMap
    val before = df
    IncrementalIndex.compact(spark, idx) // folds batch=0,1 into batch=compact
    assert(BatchCommit.foldedIds(spark, s"$idx/postings") == Set(0L, 1L))
    // the crash-replay the lease cannot cover: batch 1's checkpoint never
    // committed, the stream restarts AFTER the fold deleted batch=1 —
    // without the ledger this re-write would double batch 1's df next to
    // its folded copy; with it, replay is a no-op
    IncrementalIndex.ingestBatch(mkDocs((2L, "beta gamma")), idx, batchId = 1L)
    assert(!new java.io.File(s"$idx/postings/batch=1").exists,
      "replayed folded batch re-created its dir")
    assert(df == before, "replay after fold changed the index")
    // the ledger carries forward across a SECOND fold, and new batches
    // still ingest normally
    IncrementalIndex.ingestBatch(mkDocs((3L, "gamma delta")), idx, batchId = 2L)
    IncrementalIndex.compact(spark, idx)
    assert(BatchCommit.foldedIds(spark, s"$idx/postings") == Set(0L, 1L, 2L))
    IncrementalIndex.ingestBatch(mkDocs((3L, "gamma delta")), idx, batchId = 2L)
    assert(df == before + ("gamma" -> 2L) + ("delta" -> 1L))
  }

  test("micro-batch frame: a mid-batch lease or a vanished root fails the batch; a folded replay writes nothing") {
    import graft.operators.{BatchCommit, Lease}
    import spark.implicits._
    val guard = tmp("frame")
    val root = s"$guard/t"
    val rows = Seq((1L, "a")).toDF("id", "v")
    // a maintenance job that takes the lease while the body runs: the
    // write committed, but the batch must fail so its checkpoint stays put
    val midLease = intercept[IllegalStateException] {
      BatchCommit.inBatch(rows, 0L, guard) { w =>
        w.write(rows, root)
        Lease.acquire(guard, "compact", ttlMs = 60000L)
      }
    }
    assert(midLease.getMessage.contains("under maintenance"))
    assert(new java.io.File(s"$root/batch=0/_SUCCESS").exists)
    Lease.release(guard, "compact")
    // a written root whose batch dir is gone by the verify step
    val vanished = intercept[IllegalStateException] {
      BatchCommit.inBatch(rows, 1L, guard) { w =>
        w.write(rows, root)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/batch=1"))
      }
    }
    assert(vanished.getMessage.contains("vanished"))
    // a fold absorbs batch 0; its replay writes nothing and passes
    BatchCommit.fold(guard, "compact", Seq(("t", BatchCommit.readCommitted(spark, root).get, Nil)))
    assert(BatchCommit.foldedIds(spark, root) == Set(0L))
    BatchCommit.inBatch(rows, 0L, guard)(_.write(Seq((9L, "z")).toDF("id", "v"), root))
    assert(!new java.io.File(s"$root/batch=0").exists)
    assert(BatchCommit.readCommitted(spark, root).get.as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
  }

  test("swapOne replaces the live generation and leaves no debris") {
    val base = tmp("dirswap")
    writeGen(s"$base/t", "old")
    DirSwap.swapOne(base, "t")(out => writeGen(out, "new"))
    assert(readGen(s"$base/t") == gen("new"))
    assert(new java.io.File(base).list().toSet == Set("t"))
    assert(DirSwap.requireClean(base, "t"))
  }

  test("recover without marker rolls back: aside deleted, live wins") {
    val base = tmp("dirswap")
    writeGen(s"$base/t", "live")
    writeGen(s"$base/t_next", "aside") // crash before the marker was written
    DirSwap.recover(base)
    assert(readGen(s"$base/t") == gen("live"))
    assert(!new java.io.File(s"$base/t_next").exists())
  }

  test("recover without marker restores a live dir stranded in *_old") {
    val base = tmp("dirswap")
    writeGen(s"$base/t_old", "stranded") // pre-marker-era crash shape
    DirSwap.recover(base)
    assert(readGen(s"$base/t") == gen("stranded"))
    assert(!new java.io.File(s"$base/t_old").exists())
  }

  test("recover with marker rolls forward from every rename crash window") {
    // window 1: marker written, no rename yet
    val b1 = tmp("dirswap")
    writeGen(s"$b1/t", "old"); writeGen(s"$b1/t_next", "new"); marker(b1, "t")
    DirSwap.recover(b1)
    assert(readGen(s"$b1/t") == gen("new"))

    // window 2: live renamed to old, next not yet promoted
    val b2 = tmp("dirswap")
    writeGen(s"$b2/t_old", "old"); writeGen(s"$b2/t_next", "new"); marker(b2, "t")
    DirSwap.recover(b2)
    assert(readGen(s"$b2/t") == gen("new"))

    // window 3: next promoted, old and marker not yet cleaned up
    val b3 = tmp("dirswap")
    writeGen(s"$b3/t", "new"); writeGen(s"$b3/t_old", "old"); marker(b3, "t")
    DirSwap.recover(b3)
    assert(readGen(s"$b3/t") == gen("new"))

    for (b <- Seq(b1, b2, b3)) {
      assert(new java.io.File(b).list().toSet == Set("t"), b)
      assert(DirSwap.requireClean(b, "t"))
    }
  }

  test("multi-table swap crash between tables recovers BOTH to the new generation") {
    // the retrainIndex shape: cells promoted, crash before centroids —
    // the exact window that used to persist a mixed-generation index
    val base = tmp("dirswap")
    writeGen(s"$base/cells", "cellsOld"); writeGen(s"$base/centroids", "centOld")
    writeGen(s"$base/cells_next", "cellsNew"); writeGen(s"$base/centroids_next", "centNew")
    marker(base, "cells", "centroids")
    mv(s"$base/cells", s"$base/cells_old")
    mv(s"$base/cells_next", s"$base/cells")
    // mid-window, readers must refuse rather than mix generations
    intercept[IllegalStateException] { DirSwap.requireClean(base, "centroids") }
    DirSwap.recover(base)
    assert(readGen(s"$base/cells") == gen("cellsNew"))
    assert(readGen(s"$base/centroids") == gen("centNew"))
    assert(new java.io.File(base).list().toSet == Set("cells", "centroids"))
  }

  test("requireClean: false on absent state, throws on half-swap debris") {
    val empty = tmp("dirswap")
    assert(!DirSwap.requireClean(empty, "t"))
    assert(!DirSwap.requireClean(s"$empty/nonexistent", "t"))
    val base = tmp("dirswap")
    writeGen(s"$base/t_old", "stranded") // live gone, old present, no marker
    intercept[IllegalStateException] { DirSwap.requireClean(base, "t") }
    DirSwap.recover(base)
    assert(DirSwap.requireClean(base, "t"))
  }

  test("prunedStateBands fails loudly on a half-swapped state dir") {
    import spark.implicits._
    val dir = tmp("neardup")
    val (_, st) = graft.streaming.DocStreams.dedupNearLshBatch(
      Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta")
        .toDF("doc_id", "text"), dir)
    graft.operators.BatchCommit.writeBatch(st, s"$dir/bands", 0L, Seq("band", "bkt"))
    mv(s"$dir/bands", s"$dir/bands_old") // compaction crash shape
    intercept[IllegalStateException] {
      graft.streaming.DocStreams.prunedStateBands(spark, dir, Seq((0, 0)))
    }
    // recovery restores the stranded index; reads resume
    DirSwap.recover(dir)
    assert(graft.streaming.DocStreams.prunedStateBands(spark, dir, Seq((0, 0))).isDefined)
  }

  test("state manifest: incompatible parameters and legacy layouts refuse to open") {
    import spark.implicits._
    val dir = tmp("neardup")
    val docs = Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta")
      .toDF("doc_id", "text")
    val (_, st) = graft.streaming.DocStreams.dedupNearLshBatch(docs, dir)
    graft.operators.BatchCommit.writeBatch(st, s"$dir/bands", 0L, Seq("band", "bkt"))
    graft.streaming.DocStreams.writeManifestIfAbsent(spark, dir, 6, 2)
    // same parameters: fine
    graft.streaming.DocStreams.validateState(spark, dir, 6, 2)
    // different banding: refuse (would band-hash a different column grouping)
    intercept[IllegalStateException] {
      graft.streaming.DocStreams.validateState(spark, dir, 3, 4)
    }
    // pre-manifest batch layout with the wrong signature width: refuse
    val dir2 = tmp("neardup")
    graft.operators.BatchCommit.writeBatch(st, s"$dir2/bands", 0L, Seq("band", "bkt"))
    intercept[IllegalStateException] {
      graft.streaming.DocStreams.validateState(spark, dir2, 8, 2)
    }
    graft.streaming.DocStreams.validateState(spark, dir2, 6, 2) // width agrees
    // legacy flat-signature layout (round-5 shape: _SUCCESS at the root)
    val dir3 = tmp("neardup")
    spark.range(1).write.parquet(dir3 + "/flat")
    mv(s"$dir3/flat/_SUCCESS", s"$dir3/_SUCCESS")
    intercept[IllegalStateException] {
      graft.streaming.DocStreams.validateState(spark, dir3, 6, 2)
    }
    // flat-append bands-v1 layout (band=* directly under bands/): refuse —
    // batch-keyed writes next to v1 appends would split the index across
    // two commit protocols
    val dir4 = tmp("neardup")
    st.write.mode("append").partitionBy("band", "bkt").parquet(s"$dir4/bands")
    intercept[IllegalStateException] {
      graft.streaming.DocStreams.validateState(spark, dir4, 6, 2)
    }
  }

  test("BatchCommit: committed-only reads, skip-if-committed, partial-attempt overwrite") {
    import graft.operators.BatchCommit
    import spark.implicits._
    val root = tmp("batchcommit") + "/t"
    // nothing committed yet
    assert(BatchCommit.readCommitted(spark, root).isEmpty)
    BatchCommit.writeBatch(Seq((1L, "a")).toDF("id", "v"), root, 0L)
    BatchCommit.writeBatch(Seq((2L, "b")).toDF("id", "v"), root, 1L)
    // a half-written attempt (no _SUCCESS) is invisible to readers
    val partial = new java.io.File(s"$root/batch=2"); partial.mkdirs()
    Files.write(Paths.get(s"$root/batch=2/part-junk.parquet"), Array[Byte](1, 2, 3))
    def ids = BatchCommit.readCommitted(spark, root).get
      .select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L))
    // skip-if-committed: a replay write of batch 1 with DIFFERENT content
    // must not clobber the committed original (the post-compaction guard)
    BatchCommit.writeBatch(Seq((99L, "z")).toDF("id", "v"), root, 1L)
    assert(ids == Set(1L, 2L))
    // but the PARTIAL batch 2 is overwritten by its replay
    BatchCommit.writeBatch(Seq((3L, "c")).toDF("id", "v"), root, 2L)
    assert(ids == Set(1L, 2L, 3L))
    // exclusion: a stateful batch must not see its own prior attempt
    assert(BatchCommit.committedBatchDirs(spark, root, exclude = Some(2L))
      .forall(!_.endsWith("batch=2")))
  }

  test("incremental index: 20-batch ingest with compaction cadence, identical top-k throughout") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{IncrementalIndex, Search}
    // 20 micro-batches (doc_id mod 20) folded into one live index with
    // compaction every 4th batch; after EVERY batch the live index must
    // answer the flagship query identically to a fresh single-batch index
    // over the same ingested prefix — compaction and batch-splitting are
    // pure layout, never answers (df is associative, scores word-keyed)
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf0001)
      .localCheckpoint()
    val idx = tmp("incmaint")
    for (b <- 0 until 20) {
      IncrementalIndex.ingestBatch(docs.filter(col("doc_id") % 20 === b), idx, b.toLong)
      if (b % 4 == 3) IncrementalIndex.compact(spark, idx)
      val live = IncrementalIndex.searchTopK(spark, idx, Search.DefaultQuery, 10)
        .select("doc_id", "score").collect().map(_.toString).toSeq
      val refDir = tmp("incmaintref")
      IncrementalIndex.ingestBatch(docs.filter(col("doc_id") % 20 <= b), refDir, 0L)
      val ref = IncrementalIndex.searchTopK(spark, refDir, Search.DefaultQuery, 10)
        .select("doc_id", "score").collect().map(_.toString).toSeq
      assert(live == ref, s"top-k diverged after batch $b (compacted=${b % 4 == 3})")
    }
  }

  test("ingest with compactEvery: same decisions, manifest written, state compacted") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val state = tmp("neardup") + "/sigs"
    val out = tmp("neardup") + "/docs"
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val q = graft.streaming.DocStreams.dedupNearIngest(
      mem.toDF.toDF("doc_id", "text"), state, out, compactEvery = 1)
    try {
      mem.addData((1L, base), (2L, "one two three four five six seven eight"))
      q.processAllAvailable()
      mem.addData((3L, base.replace("theta", "iota")), // near-dup of 1 → dropped
        (4L, "red orange yellow green blue indigo violet crimson"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = graft.streaming.DocStreams.readOutput(spark, out).get
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L))
    // manifest pinned the layout; validate agrees, a different one refuses
    graft.streaming.DocStreams.validateState(spark, state, 6, 2)
    intercept[IllegalStateException] {
      graft.streaming.DocStreams.validateState(spark, state, 3, 4)
    }
    // cadence=1 compaction ran after the final batch: one file per bucket
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get(s"$state/bands")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    val buckets = graft.streaming.DocStreams.stateBands(spark, state).get
      .select("band", "bkt").distinct().count()
    assert(files.size == buckets.toInt, s"${files.size} files for $buckets buckets")
  }

  test("Persisted.apply: atomic publish — crashed debris rebuilds, racing " +
    "cold-cache builders and overlapped readers never see a partial dir") {
    import graft.queries.Persisted
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val d = tmp("pcache")
    spark.range(10).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/src.parquet")
    // unique kind per test run → a fresh /tmp/graft-<kind> namespace
    val kind = s"spec-pub-${java.util.UUID.randomUUID.toString.take(8)}"
    val kindDir = Paths.get(s"/tmp/graft-$kind")
    def entryName: String = Persisted.sanitized(d) +
      s"_${Persisted.fingerprint(spark, d, "src.parquet")}"
    // a leading `_` would make Spark skip the entry as a hidden path
    assert(!entryName.startsWith("_") && !entryName.startsWith("."), entryName)
    try {
      // 1. crashed-write debris: a dir with data files but NO _SUCCESS must
      //    be rebuilt, not read through (the round-11 in-place overwrite
      //    left exactly this shape when killed mid-write)
      val debris = kindDir.resolve(entryName)
      Files.createDirectories(debris)
      Files.write(debris.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
      val first = Persisted(spark, d, kind, "src.parquet") {
        spark.range(100).toDF("id")
      }
      assert(first.count() == 100L)
      // 2. racing cold-cache builders: wipe the cache, fire 4 concurrent
      //    apply() calls through one latch; every caller must read a
      //    complete generation (the publish race is benign by design)
      org.apache.commons.io.FileUtils.deleteDirectory(kindDir.toFile)
      val pool = Executors.newFixedThreadPool(4)
      val go = new CountDownLatch(1)
      val counts = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            go.await()
            Persisted(spark, d, kind, "src.parquet") {
              spark.range(100).toDF("id")
            }.count()
          }
        })
      }
      go.countDown()
      counts.foreach(f => assert(f.get(120, TimeUnit.SECONDS) == 100L))
      pool.shutdown()
      // exactly one complete generation, zero aside/nested leftovers
      val children = kindDir.toFile.listFiles().map(_.getName).toSeq
      assert(children == Seq(entryName), s"unexpected cache children: $children")
      assert(Files.exists(kindDir.resolve(entryName).resolve("_SUCCESS")))
      val inside = kindDir.resolve(entryName).toFile.listFiles()
        .filter(_.isDirectory).map(_.getName).toSeq
      assert(inside.isEmpty, s"nested aside debris leaked: $inside")
      // 3. overlapped readers: with _SUCCESS present no caller ever writes,
      //    so a reader loop racing repeated apply() calls stays green
      val readers = Executors.newFixedThreadPool(2)
      val rf = readers.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = (1 to 10).map { _ =>
          spark.read.parquet(kindDir.resolve(entryName).toString).count()
        }.sum
      })
      (1 to 10).foreach { _ =>
        assert(Persisted(spark, d, kind, "src.parquet") {
          fail("published cache must never rebuild"); null
        }.count() == 100L)
      }
      assert(rf.get(120, TimeUnit.SECONDS) == 1000L)
      readers.shutdown()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(kindDir.toFile)
  }
}
