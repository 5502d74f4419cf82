package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = LocalSpark(8)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
