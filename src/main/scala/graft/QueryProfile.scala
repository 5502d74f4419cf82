package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement harness for the optimization rounds (guide §1: measure
  * first): runs named queries under a SparkListener and prints, per query,
  * the wall min-of-N next to the scheduler-side shape — jobs launched,
  * stages, tasks, summed executor task time, shuffle bytes — the local-mode
  * stand-in for the UI's stage table. A query whose wall time is several ×
  * its summed task time is scheduler/driver-bound (too many tiny
  * stages/jobs); one whose task time concentrates in a few stages is
  * compute-bound there.
  *
  * Usage: runMain graft.QueryProfile <sfDir> <q1,q2,...> [iters]
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(sys.error("usage: QueryProfile <sfDir> <q1,q2,...|ALL> [iters]"))
      match {
        case Seq("ALL") => Registry.all.filter(_.bench).map(_.name)
        case ns => ns
      }
    val iters = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = LocalSpark()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskNanos = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val jobLog = sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog) {
          val site = j.stageInfos.lastOption.map(_.details.linesIterator
            .find(l => l.contains("graft") && !l.contains("QueryProfile"))
            .getOrElse("").trim).getOrElse("")
          println(s"JOB ${j.jobId} stages=${j.stageInfos.size} " +
            s"${j.stageInfos.lastOption.map(_.name).getOrElse("")} | $site")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskNanos.addAndGet(m.executorRunTime * 1000000L)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0)
      taskNanos.set(0L); shufRead.set(0L); shufWrite.set(0L) }

    // Same warmup as Bench: flagship absorbs codegen/classloading.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    names.foreach { n =>
      val q = Registry.all.find(_.name == n).getOrElse(sys.error(s"unknown query '$n'"))
      q.fn(spark, sfDir).count() // per-query warmup (page cache, codegen)
      val runs = (1 to iters).map { _ =>
        // quiesce listener delivery so counters attribute to this run
        Thread.sleep(300)
        reset()
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        (wall, jobs.get, stages.get, tasks.get, taskNanos.get / 1e9,
          shufRead.get, shufWrite.get)
      }
      val best = runs.minBy(_._1)
      println(f"PROFILE ${n}%-34s wall=${best._1}%7.3f jobs=${best._2}%4d " +
        f"stages=${best._3}%4d tasks=${best._4}%5d taskTime=${best._5}%8.3f " +
        f"shufR=${best._6}%10d shufW=${best._7}%10d")
    }
    spark.stop()
  }
}
