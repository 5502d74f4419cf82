package graft

/** Print a registered query's formatted physical plan — the capture tool
  * behind PLANS.md (`sbt "runMain graft.PlanDump knn_pq_batch
  * /root/testdata/sf0.01"`). Formatted mode shows scan detail
  * (PushedFilters, ReadSchema, PartitionFilters) unelided.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: PlanDump <query> [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = LocalSpark()
    // Batch mode (round-18 deliverable): comma-separated names + an output
    // template "dir/SUFFIX" write one formatted plan per query to
    // dir/<query>_SUFFIX.txt in ONE JVM (a per-query JVM costs ~30 s each).
    val outTpl = args.lift(2)
    val names = name.split(",").toSeq
    names.foreach { n =>
      val q = Registry.all.find(_.name == n)
        .getOrElse(sys.error(s"unknown query '$n'"))
      val plan = try q.fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      outTpl match {
        case Some(tpl) =>
          val slash = tpl.lastIndexOf('/')
          val (dir, suffix) = (tpl.substring(0, slash), tpl.substring(slash + 1))
          new java.io.File(dir).mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$dir/${n}_$suffix.txt"), plan)
          println(s"wrote $dir/${n}_$suffix.txt")
        case None => println(plan)
      }
    }
    spark.stop()
  }
}
