package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import graft.GraftExtensions
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

/** The benchmark harness: one JVM, one client on `local[nproc]`.
  *
  *   Main --workload <name> --seed <n> --docs <n> --seconds <s> --trace <0|1>
  *        --input <generated dir> --generate-s <s,s,..> --work <dir> --out <dir>
  *
  * run.py generates the input (several times; their seconds are passed in
  * and the median counts toward set-up). Here the workload prepares and
  * warms up on it. With `--trace 0` operations then run for `--seconds`
  * and the end-to-end metrics are reported; with `--trace 1` a traced
  * pass runs each operation traced and untraced (for the tracing
  * overhead), then replays the traced operations, whose job and task
  * counts must repeat exactly, and the per-layer metrics are reported.
  * `--workload train` runs every workload once on the input, to record
  * the JVM's class-data archive. The result line goes to
  * `<out>/result.json`, the run record and spans next to it.
  */
object Main {

  val WarmupOps: Map[String, Int] = Map("index_build" -> 4, "query_indexed" -> 10)
  /** The program's small-input guard takes scans of at most this many partitions. */
  val GuardPartitions = 4
  val SplitBytes: Long = 1L << 20

  /** Per-layer metrics: every layer reports these, then its own extras. */
  val Common: Seq[(String, String, String)] = Seq(
    ("time_s", "s", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("cpu_s", "s", "lower"), ("shuffle_bytes", "B", "lower"), ("task_skew", "ratio", "lower"))

  val Layers: Seq[(String, Seq[(String, String, String)])] = {
    val queryExtras = Seq(("plan_ms", "ms", "lower"), ("input_bytes", "B", "lower"),
      ("sched_wait_ms", "ms", "lower"))
    val keep = Seq(("keep_ratio", "ratio", "higher"))
    Seq(
      "sources.documents" -> Seq(("partitions", "count", "higher"), ("input_bytes", "B", "lower")),
      "search.tokens" -> Nil,
      "search.vocabulary" -> Seq(("rows", "count", "lower")),
      "search.postings" -> Seq(("rows", "count", "lower"), ("spill_bytes", "B", "lower")),
      "search.build_index" -> Seq(("stages", "count", "lower"), ("corpus_passes", "ratio", "lower"),
        ("bytes_written", "B", "lower"), ("spill_bytes", "B", "lower")),
      "search.indexed" -> queryExtras,
      "search.bm25_indexed" -> queryExtras,
      "warc.parse" -> Seq(("rows", "count", "lower")),
      "warc.dedup_latest" -> keep,
      "textextract.extract" -> Nil,
      "textanalysis.clean_corpus" -> keep,
      "dedup.bloom_novel" -> keep,
      "dedup.minhash_lsh" -> Seq(("pairs_per_doc", "ratio", "lower"), ("spill_bytes", "B", "lower")),
      "dedup.clusters" -> Nil,
      "curation.mix" -> Nil,
      "curation.pack" -> Nil,
      "curation.manifest" -> Nil)
  }

  /** Whole-run trace metrics: the operation span's self time (the
    * benchmark's own glue and checks) and traced ÷ untraced time.
    */
  val RunTrace: Seq[(String, String, String)] =
    Seq(("op.self_s", "s", "lower"), ("trace.overhead", "ratio", "lower"))

  /** The contract's end-to-end metrics. Per-operation wall and CPU times
    * are in the run record only: on a host that steals CPU from its guests
    * they move with the neighbours' load (README, "End-to-end metrics").
    */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = a("work")
    val input = a("input")
    val generateS = a("generate-s").split(",").toSeq.map(_.toDouble)
    val out = new File(a("out"))
    out.mkdirs()
    val loadBefore = loadAvg()
    val s0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - s0) / 1e9
    if (a.get("workload").contains("train")) {
      // class-loading pass for the JVM's class-data archive: one operation
      // of every workload on a small input
      Workload.Names.foreach(n => runWorkload(spark, n, input, 0.0, traced = false, warmups = 1))
      spark.stop()
      return
    }
    val name = a("workload")
    require(Workload.Names.contains(name), s"unknown workload $name; one of ${Workload.Names.mkString(", ")}")
    val r = runWorkload(spark, name, input, a("seconds").toDouble, a("trace") == "1", WarmupOps(name))
    spark.stop()
    val metrics =
      if (r.traced) r.metrics else ("setup_s", sessionS + median(generateS) + r.setupS, "s") +: r.metrics
    r.extra("session_s") = sessionS
    r.extra("generate_s") = generateS
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> a("seed").toLong, "seconds" -> a("seconds").toDouble,
      "trace" -> r.traced, "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_version" -> spark.version,
      "xmx" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .find(_.startsWith("-Xmx")).getOrElse(s"${Runtime.getRuntime.maxMemory >> 20}m"),
      "load_before" -> loadBefore, "load_after" -> loadAvg(),
      "scan_partitions" -> r.scans, "docs" -> a("docs").toInt,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> metrics.map { case (k, v, _) => k -> v }.toMap,
      "workload_metrics" -> r.extra, "errors" -> r.errors)
    write(new File(out, "record.json"), json(record))
    write(new File(out, "spans.tsv"), ("id\top\tname\tparent\tstart_ns\tend_ns" +:
      r.spans.map(s => s"${s.id}\t${s.op}\t${s.name}\t${s.parent}\t${s.startNs}\t${s.endNs}")).mkString("\n"))

    println(Seq("workload", "seed", "trace", "nproc", "spark_version", "xmx", "load_before",
      "load_after", "scan_partitions").map(k => s"$k=${json(record(k))}").mkString("perfbench ", " ", ""))
    r.extra.foreach { case (k, v) => println(s"  $k = ${json(v)}") }
    metrics.foreach { case (k, v, u) => println(s"  metric $k = $v $u") }
    r.errors.foreach(e => println(s"  error: $e"))

    val result = json(mutable.LinkedHashMap("correct" -> r.errors.isEmpty, "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*)))
    write(new File(out, "result.json"), result)
  }

  final case class RunResult(traced: Boolean, setupS: Double, metrics: Seq[(String, Double, String)],
                             extra: mutable.LinkedHashMap[String, Any], scans: Map[String, Int],
                             attempted: Int, failed: Int, errors: Seq[String], spans: Seq[Span])

  /** Preparation and warm-up on a generated input directory, then the
    * measured (or traced) operations of one workload.
    */
  def runWorkload(spark: SparkSession, name: String, dir: String, seconds: Double,
                  traced: Boolean, warmups: Int): RunResult = {
    val t = new Trace(spark.sparkContext, traced)
    val w = Workload(name, spark, t)
    val p0 = System.nanoTime()
    w.prepare(dir)
    w.load(dir)
    val prepareS = (System.nanoTime() - p0) / 1e9
    val w0 = System.nanoTime()
    val warm = (1 to warmups).map(k => w.run(-k))
    val warmS = (System.nanoTime() - w0) / 1e9

    val errors = mutable.ArrayBuffer[String]()
    warm.flatMap(_.error).foreach(e => errors += s"warm-up: $e")

    val results = mutable.ArrayBuffer[OpResult]()
    val overhead = mutable.ArrayBuffer[(Double, Double)]()
    val stat0 = procStat()
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    if (!traced) {
      var i = 0
      do { results += w.run(i); i += 1 } while (elapsed < seconds)
    } else {
      // pass A: a traced and an untraced run of each operation, alternating
      // which goes first; pass B: the traced operations again, whose job
      // and task counts must repeat pass A's exactly
      val structureA = mutable.LinkedHashMap[Int, Map[String, (Long, Long, Long)]]()
      var i = 0
      do {
        val pair = (if (i % 2 == 0) Seq(true, false) else Seq(false, true)).map { on =>
          t.setActive(on)
          val before = w.calls.size
          val r = w.run(i)
          if (on) structureA(i) = structure(w.calls.drop(before), t)
          on -> r
        }.toMap
        results ++= pair.values
        if (pair.values.forall(_.error.isEmpty)) overhead += ((pair(true).seconds, pair(false).seconds))
        i += 1
      } while (elapsed < seconds)
      t.setActive(true)
      structureA.foreach { case (k, a) =>
        val before = w.calls.size
        results += w.run(k)
        val b = structure(w.calls.drop(before), t)
        (a.keySet ++ b.keySet).toSeq.sorted.foreach { layer =>
          val (ja, ta, sa) = a.getOrElse(layer, (0L, 0L, 0L))
          val (jb, tb, sb) = b.getOrElse(layer, (0L, 0L, 0L))
          if (ja != jb || ta != tb || (layer == "search.build_index" && sa != sb))
            errors += s"job/task counts differ between two traced passes: $layer (op $k): " +
              s"jobs $ja/$jb, tasks $ta/$tb, stages $sa/$sb"
        }
      }
    }

    val scans = w.guardedScans
    scans.foreach { case (scan, n) =>
      if (n <= GuardPartitions)
        errors += s"the $scan scan planned $n partitions, inside the ≤$GuardPartitions small-input guard"
    }
    val good = results.filter(_.error.isEmpty).toSeq
    val failed = results.count(_.error.nonEmpty)
    results.flatMap(_.error).distinct.take(5).foreach(e => errors += e)
    if (results.isEmpty) errors += "no operation ran"
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Nil
      else {
        val ratio = if (overhead.isEmpty) 0.0
          else median(overhead.map(_._1)) / median(overhead.map(_._2))
        val out = layerMetrics(w, t) ++ Seq(
          ("op.self_s", median(t.spans.filter(_.name == "op").map(t.selfSeconds)), "s"),
          ("trace.overhead", ratio, "ratio"))
        t.setActive(false)
        out
      }

    val times = good.map(_.seconds)
    val extra = mutable.LinkedHashMap[String, Any]()
    name match {
      case "query_indexed" =>
        val (pct, v, n) = tail(times.map(_ * 1000))
        extra("query_p50_ms") = median(times.map(_ * 1000))
        extra("query_tail_ms") = v
        extra("query_tail_percentile") = pct
        extra("query_samples") = n
        extra("postings_scan_partitions") = w.asInstanceOf[QueryIndexed].postingsPartitions
        w.record.foreach { case (k, v) => extra(k) = v }
      case "index_build" =>
        extra("build_s") = median(times)
        w.record.foreach { case (k, v) => extra(k) = v }
    }
    extra("error_rate") = if (results.isEmpty) 0.0 else failed.toDouble / results.size
    extra("op_s") = times
    extra("op_cpu_ms") = median(good.map(_.cpuSeconds * 1000))
    extra("op_process_cpu_ms") = median(good.map(_.processCpuSeconds * 1000))
    extra("steal_share") = stealShare(stat0, procStat())
    extra("peak_rss_mb") = procStatusKb("VmHWM") / 1024.0
    extra("prepare_s") = prepareS
    extra("warmup_s") = warmS
    RunResult(traced, prepareS + warmS, metrics, extra, scans, results.size, failed,
      errors.toSeq, t.spans.toSeq)
  }

  /** jobs, tasks, stages per layer of one traced operation's calls. */
  private def structure(calls: collection.Seq[Call], t: Trace): Map[String, (Long, Long, Long)] =
    calls.map { c =>
      val k = t.counters(c.span)
      c.span.name -> (k.jobs, k.tasks, k.stages)
    }.toMap

  private def layerMetrics(w: Workload, t: Trace): Seq[(String, Double, String)] = {
    val byLayer = w.calls.groupBy(_.span.name)
    Layers.flatMap { case (layer, extras) =>
      val calls = byLayer.getOrElse(layer, Nil).toSeq
      val values: Seq[Map[String, Double]] = calls.map { c =>
        val k = t.counters(c.span)
        Map("time_s" -> c.span.seconds, "jobs" -> k.jobs.toDouble, "tasks" -> k.tasks.toDouble,
          "cpu_s" -> k.cpuNs / 1e9, "shuffle_bytes" -> k.shuffleBytes.toDouble,
          "task_skew" -> k.taskSkew) ++ c.fromCounters(k) ++ c.noted
      }
      (Common ++ extras).map { case (m, unit, _) =>
        (s"$layer.$m", if (values.isEmpty) 0.0 else median(values.map(_(m))), unit)
      }
    }
  }

  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // production splits are 128 MB and a corpus is many of them; scaled
      // down with the corpus, 1 MB splits put every generated scan above
      // the program's small-input guard (gen.py writes 8 files, at least
      // one split each), as a production scan is
      .config("spark.sql.files.maxPartitionBytes", SplitBytes.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, when
    * that percentile is above the median (twenty samples or more);
    * otherwise the maximum. Returns (label, value, sample count).
    */
  def tail(xs: Seq[Double]): (String, Double, Int) = {
    val s = xs.sorted
    if (s.size < 20) ("max", s.lastOption.getOrElse(0.0), s.size)
    else {
      val p = math.floor(100.0 * (s.size - 10) / s.size).toInt
      (s"p$p", s(math.ceil(p / 100.0 * s.size).toInt - 1), s.size)
    }
  }

  /** The machine's cumulative CPU time counters (`/proc/stat`, in ticks). */
  private def procStat(): Array[Long] = {
    val src = Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
  }

  /** Share of the machine's CPU time between two `procStat` readings that
    * the hypervisor gave to other guests (the `steal` column).
    */
  private def stealShare(a: Array[Long], b: Array[Long]): Double = {
    val total = b.zip(a).take(8).map { case (x, y) => x - y }.sum
    if (total <= 0) 0.0 else (b(7) - a(7)).toDouble / total
  }

  private def loadAvg(): Seq[Double] = {
    val src = Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ").take(3).map(_.toDouble).toSeq finally src.close()
  }

  private def procStatusKb(key: String): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }

  private def write(f: File, s: String): Unit = {
    val p = new PrintWriter(f, "UTF-8")
    try p.println(s) finally p.close()
  }

  def json(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => json(other.toString)
  }
}
