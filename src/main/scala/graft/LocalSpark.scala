package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory: the mains and the test suite share
  * these settings (one shuffle partition per core, AQE, UTC, no UI, the
  * graft extensions, WARN logging) and differ only in core count.
  */
object LocalSpark {
  /** The mains' core count: `SPARK_GRAFT_CPUS`, else every available core. */
  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = envCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
