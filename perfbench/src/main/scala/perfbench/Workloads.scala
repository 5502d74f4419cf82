package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import graft.operators.{Curation, Dedup, Search, TextAnalysis, TextExtract}
import graft.sources.{Tables, Warc}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

/** One layer call of a traced operation and its metrics beyond the common
  * set: those read from its counters once the listener has drained, and
  * those the benchmark noted from the call's output.
  */
final case class Call(span: Span, fromCounters: Counters => Map[String, Double],
                      noted: Map[String, Double] = Map.empty)

/** A query string and whether it runs the parity (true) or BM25 scoring. */
final case class Query(text: String, parity: Boolean)

/** What one operation reports: its timed seconds (a build or a query;
  * the benchmark's checks are outside it), over the same intervals the CPU
  * seconds of the JVM's application threads (driver and executors; not
  * the JIT compiler or the garbage collector) and of the whole process,
  * and the first check it failed or what it threw.
  */
final case class OpResult(seconds: Double, cpuSeconds: Double, processCpuSeconds: Double,
                          error: Option[String])

/** A closed-loop workload with one caller: `prepare` is its set-up on a
  * freshly generated input directory, `op(i)` its i-th operation.
  */
abstract class Workload(val spark: SparkSession, val t: Trace) {
  def calls: mutable.ArrayBuffer[Call] = t.calls
  /** Workload-specific end-to-end figures for the run record. */
  val record: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()

  var dir: String = _
  var counts: Counts = _

  def prepare(dir: String): Unit = ()

  /** Planned scan partitions that must exceed the small-input guard. */
  def guardedScans: Map[String, Int]

  /** Starts work on the input directory a set-up round produced. */
  def load(dir: String): Unit = {
    this.dir = dir
    counts = Counts.read(s"$dir/counts.tsv")
  }

  /** Runs operation `i`; returns the first check it failed. */
  def op(i: Int): Option[String]

  private val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU nanoseconds of every live application thread, by thread id. */
  private def threadCpu(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator.map(id => id -> threadBean.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  protected var timedSeconds = 0.0
  protected var timedCpu = 0.0
  protected var timedProcessCpu = 0.0

  /** A layer call: a span, and when it is the timed work, its seconds. */
  protected def layer[T](name: String, timed: Boolean = true)(body: => T)
                        (fromCounters: Counters => Map[String, Double] =
                           (_: Counters) => Map.empty[String, Double]): T = {
    val c0 = cpuBean.getProcessCpuTime
    val th0 = threadCpu()
    val (v, s) = t.span(name)(body)
    if (timed) {
      timedSeconds += s.seconds
      timedProcessCpu += (cpuBean.getProcessCpuTime - c0) / 1e9
      timedCpu += threadCpu().iterator.map { case (id, ns) => ns - th0.getOrElse(id, 0L) }.sum / 1e9
    }
    if (t.active) calls += Call(s, fromCounters)
    v
  }

  /** Adds metrics to the last layer call. */
  protected def note(kv: (String, Double)*): Unit =
    if (t.active) calls(calls.size - 1) = calls.last.copy(noted = calls.last.noted ++ kv)

  /** Runs one operation under a root span, catching what it throws. */
  def run(i: Int): OpResult = {
    timedSeconds = 0.0
    timedCpu = 0.0
    timedProcessCpu = 0.0
    t.op = i
    val err =
      try t.span("op")(op(i))._1
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
    OpResult(timedSeconds, timedCpu, timedProcessCpu, err)
  }

  protected def ok(cond: Boolean, what: => String): Option[String] = if (cond) None else Some(what)

  protected def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().iterator.map(_.getLong(0)).toSet

  protected def bytesUnder(path: String): Long = {
    val root = new File(path).toPath
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.endsWith(".crc"))
      .map((p: Path) => Files.size(p)).sum
    finally s.close()
  }

  protected def partitions(df: DataFrame): Int = df.rdd.getNumPartitions

  protected def first(checks: Option[String]*): Option[String] = checks.flatten.headOption
}

object Workload {
  val Names: Seq[String] = Seq("index_build", "query_indexed")

  def apply(name: String, spark: SparkSession, t: Trace): Workload = name match {
    case "query_indexed" => new QueryIndexed(spark, t)
    case "index_build" => new IndexBuild(spark, t)
  }

  val TopK = 10
}

/** Checks an index directory against the generator's counts. */
private object IndexCheck {
  def apply(spark: SparkSession, idx: String, c: Counts): Option[String] = {
    def two(df: DataFrame, col2: String): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col2)).head()
      (r.getLong(0), r.getLong(1))
    }
    val (vRows, sumDf) = two(spark.read.parquet(s"$idx/vocabulary"), "df")
    val (pRows, sumTf) = two(spark.read.parquet(s"$idx/postings"), "tf")
    val (dRows, sumLen) = two(spark.read.parquet(s"$idx/docinfo"), "n_tokens")
    Seq(
      "vocabulary rows" -> (vRows, c.vocab), "vocabulary Σdf" -> (sumDf, c.sumDf),
      "postings rows" -> (pRows, c.sumDf), "postings Σtf" -> (sumTf, c.sumTf),
      "docinfo rows" -> (dRows, c.nDocs), "docinfo Σn_tokens" -> (sumLen, c.sumTf))
      .collectFirst { case (what, (got, want)) if got != want => s"$what: got $got, expected $want" }
  }
}

/** One operation is a full `Search.buildIndex` over the corpus. A traced
  * operation 0 first calls the layers the build is made of one by one,
  * and after the build runs one pass of the curation lane (`CurateLane`)
  * on the same corpus, so the lane's layers are traced here too.
  */
final class IndexBuild(spark: SparkSession, t: Trace) extends Workload(spark, t) {
  private def idx = s"$dir/index"
  private var lane: Option[CurateLane] = None

  def guardedScans: Map[String, Int] =
    Map("documents" -> partitions(Tables.documents(spark, dir))) ++
      lane.map(_.guardedScans).getOrElse(Map.empty)

  def op(i: Int): Option[String] = {
    val docs = Tables.documents(spark, dir)
    val traced = t.active && i == 0
    if (traced) {
      layer("sources.documents", timed = false)(docs.count())(c =>
        Map("input_bytes" -> c.inputBytes.toDouble))
      note("partitions" -> partitions(docs).toDouble)
      layer("search.tokens", timed = false)(Search.tokens(docs).count())()
      val v = layer("search.vocabulary", timed = false)(Search.vocabulary(docs).count())()
      note("rows" -> v.toDouble)
      val p = layer("search.postings", timed = false)(
        Search.postings(docs, Search.vocabulary(docs)).count())(c =>
        Map("spill_bytes" -> c.spillBytes.toDouble))
      note("rows" -> p.toDouble)
    }
    val corpusBytes = bytesUnder(s"$dir/documents.parquet").toDouble
    layer("search.build_index")(Search.buildIndex(spark, dir, idx))(c =>
      Map("stages" -> c.stages.toDouble, "corpus_passes" -> c.inputBytes / corpusBytes,
        "bytes_written" -> c.bytesWritten.toDouble, "spill_bytes" -> c.spillBytes.toDouble))
    record("index_size_ratio") = bytesUnder(idx) / corpusBytes
    val laneError = if (!traced) None else {
      val l = lane.getOrElse {
        val l = new CurateLane(spark, t)
        l.prepare(dir)
        l.load(dir)
        lane = Some(l)
        l
      }
      l.op(i).map(e => s"curation lane: $e")
    }
    first(IndexCheck(spark, idx, counts), laneError)
  }
}

/** One operation is one query against an index built during set-up,
  * timed to `collect()`; even operations use the parity scoring, odd ones
  * BM25.
  */
final class QueryIndexed(spark: SparkSession, t: Trace) extends Workload(spark, t) {
  private def idx = s"$dir/index"
  private var queries: IndexedSeq[Query] = _
  private val expected = mutable.HashMap[Int, Map[Long, Double]]()

  override def prepare(dir: String): Unit = {
    Search.buildIndex(spark, dir, s"$dir/index")
    require(IndexCheck(spark, s"$dir/index", Counts.read(s"$dir/counts.tsv")).isEmpty,
      "the set-up index does not match the generator's counts")
  }

  override def load(dir: String): Unit = {
    super.load(dir)
    val src = Source.fromFile(s"$dir/queries.tsv", "UTF-8")
    queries = try src.getLines().map { l =>
      val Array(kind, q) = l.split("\t", 2)
      Query(q, kind == "parity")
    }.toIndexedSeq finally src.close()
    expected.clear()
  }

  /** The query path is not guarded; its postings scan is recorded only. */
  def guardedScans: Map[String, Int] = Map.empty

  /** Planned partitions of the full postings scan, for the run record. */
  def postingsPartitions: Int = partitions(spark.read.parquet(s"$idx/postings"))

  def op(i: Int): Option[String] = {
    val qi = Math.floorMod(i, queries.size)
    val q = queries(qi)
    var planMs = 0.0
    val rows = layer(if (q.parity) "search.indexed" else "search.bm25_indexed") {
      val p0 = System.nanoTime()
      val df =
        if (q.parity) Search.searchTopKIndexed(spark, idx, q.text, Workload.TopK)
        else Search.searchTopKBm25Indexed(spark, idx, q.text, Workload.TopK)
      planMs = (System.nanoTime() - p0) / 1e6
      df.collect()
    }(c => Map("input_bytes" -> c.inputBytes.toDouble, "sched_wait_ms" -> c.schedWaitMs))
    note("plan_ms" -> planMs)
    val want = expected.getOrElseUpdate(qi,
      if (q.parity) Oracle.parityScores(counts, q.text) else Oracle.bm25Scores(counts, q.text))
    val got = rows.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val tol = if (q.parity) 1.5e-9 else 1.5e-6
    Oracle.sameTopK(got, want, Workload.TopK, tol).map(e => s"query '${q.text}': $e")
  }
}

/** One pass of the crawl-to-training-shard lane over WARC blobs written
  * from the corpus by `prepare`; each stage is materialised in turn and
  * the pipeline invariants are checked between stages. A stage's span also
  * covers the joins that assemble its input from earlier stages.
  */
final class CurateLane(spark: SparkSession, t: Trace) extends Workload(spark, t) {
  val Budget = 2048L
  val SeqsPerShard = 8L
  private var digest: Option[String] = None
  private var batchSize = 0L

  override def prepare(dir: String): Unit =
    Warc.records(TextExtract.wrapped(Tables.documents(spark, dir).select("doc_id", "text")))
      .write.mode("overwrite").parquet(s"$dir/warc.parquet")

  override def load(dir: String): Unit = {
    super.load(dir)
    digest = None
    batchSize = Tables(spark, dir, "recrawl").count()
  }

  def guardedScans: Map[String, Int] = Map(
    "documents" -> partitions(Tables.documents(spark, dir)),
    "warc" -> partitions(Tables(spark, dir, "warc")))

  def op(i: Int): Option[String] = {
    val docs = Tables.documents(spark, dir)
    val blobs = Tables(spark, dir, "warc")
    val batch = Tables(spark, dir, "recrawl")
    val nDocs = counts.nDocs
    val parsed = layer("warc.parse")(Warc.parse(blobs).localCheckpoint())()
    val framed = parsed.agg(count(lit(1)), sum(when(col("ok"), 1L).otherwise(0L))).head()
    note("rows" -> framed.getLong(0).toDouble)

    val winners = layer("warc.dedup_latest")(Warc.dedupLatest(parsed).localCheckpoint())()
    val winIds = ids(winners)
    note("keep_ratio" -> winIds.size.toDouble / nDocs)

    val extracted = layer("textextract.extract") {
      val pages = parsed.filter(col("wtype") === "response")
        .select(col("doc_id"), col("payload").as("html"))
        .join(winners.select("doc_id"), "doc_id")
      TextExtract.extract(pages).localCheckpoint()
    }()
    val exIds = ids(extracted)

    val clean = layer("textanalysis.clean_corpus")(
      TextAnalysis.cleanCorpus(extracted).localCheckpoint())()
    val cleanIds = ids(clean)
    note("keep_ratio" -> cleanIds.size.toDouble / exIds.size)

    val novel = layer("dedup.bloom_novel")(
      Dedup.bloomNovelDocs(batch.select("doc_id", "text"), docs).localCheckpoint())()
    val novelIds = ids(novel)
    note("keep_ratio" -> novelIds.size.toDouble / batchSize)

    val (working, pairs) = layer("dedup.minhash_lsh") {
      val w = extracted.join(clean.select("doc_id"), "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .unionByName(batch.join(novel.select("doc_id"), "doc_id")
          .select("doc_id", "text", "source"))
        .localCheckpoint()
      (w, Dedup.minhashLshPairs(w, 3, 6, 2, 0.6).localCheckpoint())
    }(c => Map("spill_bytes" -> c.spillBytes.toDouble))
    val workIds = ids(working)
    note("pairs_per_doc" -> pairs.count().toDouble / workIds.size)

    val (cl, kept) = layer("dedup.clusters") {
      val c = Dedup.clusters(pairs).localCheckpoint()
      (c, working.join(c.filter(col("doc_id") =!= col("keep_id")).select("doc_id"),
        Seq("doc_id"), "left_anti").localCheckpoint())
    }()
    val clustered = ids(cl)
    val dropped = ids(cl.filter(col("doc_id") =!= col("keep_id")))
    val keptIds = ids(kept)

    val total = math.max(1L, nDocs / 6)
    val mixed = layer("curation.mix")(
      Curation.mixByTemperature(kept.select("doc_id", "source"), 0.7, total).localCheckpoint())()
    val mixedIds = ids(mixed)

    // the pack stage covers the split assignment that selects its input
    val (splits, train, packed) = layer("curation.pack") {
      val s = Curation.assignSplits(mixed.select("doc_id"),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))).localCheckpoint()
      val tr = kept.join(s.filter(col("split") === "train").select("doc_id"), "doc_id")
        .select("doc_id", "text").localCheckpoint()
      (s, tr, Curation.packSequences(tr, Budget).localCheckpoint())
    }()
    val splitRows = splits.collect().map(r => r.getLong(0) -> r.getString(1))
    val nTrain = splitRows.count(_._2 == "train").toLong
    val pack = packed.agg(count(lit(1)), sum("n_docs"), sum("n_tokens")).head()

    val manifest = layer("curation.manifest") {
      val cnt = TextAnalysis.tokenCounts(train)
        .select(col("doc_id"), col("alnum_tokens").as("n_tok"))
      Curation.shardManifestFrom(cnt, Budget, SeqsPerShard).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
    }()
    val md5 = MessageDigest.getInstance("MD5").digest(manifest.mkString(";").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val sameDigest = digest.forall(_ == md5)
    if (digest.isEmpty) digest = Some(md5)

    first(
      ok(framed.getLong(0) == 2 * nDocs && framed.getLong(1) == 2 * nDocs,
        s"parse: ${framed.getLong(1)} of ${framed.getLong(0)} records framed, expected ${2 * nDocs}"),
      ok(winIds.subsetOf((0L until nDocs).toSet) && winIds.size < nDocs,
        s"dedup_latest kept ${winIds.size} of $nDocs fetches"),
      ok(exIds == winIds, "extraction is not total over the fetch winners"),
      ok(cleanIds.subsetOf(exIds) && cleanIds.nonEmpty, "clean did not narrow the extracted set"),
      ok(novelIds == counts.novel,
        s"novelty gate kept ${novelIds.size} docs, expected ${counts.novel.size}"),
      ok(workIds == cleanIds ++ novelIds, "near-dup input is not clean ∪ novel"),
      ok(keptIds == workIds -- dropped && (clustered -- dropped).subsetOf(keptIds),
        "near-dup selection must drop exactly the non-representatives"),
      ok(mixedIds.nonEmpty && mixedIds.subsetOf(keptIds) && mixedIds.size <= total,
        s"mix of ${mixedIds.size} docs is not a subset of the kept set within $total"),
      ok(splitRows.length == mixedIds.size && splitRows.map(_._1).toSet == mixedIds,
        "splits are not exhaustive and disjoint over the mix"),
      ok(pack.getLong(1) == nTrain, s"pack placed ${pack.getLong(1)} docs, train split has $nTrain"),
      ok(manifest.map(_._3).sum == nTrain && manifest.map(_._2).sum == pack.getLong(0) &&
        manifest.map(_._4).sum == pack.getLong(2) &&
        manifest.forall(_._5 == Budget * SeqsPerShard),
        "manifest sums do not reconcile with the pack"),
      ok(sameDigest, "manifest digest differs from the first pass"))
  }
}
