package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd arg: comma-separated query names — builder-side fast
    // iteration on one query; the driver always passes two args.
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = LocalSpark()
    run(spark, SparkEntry.queries, SparkEntry.oracleSql, sfDir, outDir, only)
    spark.stop()
  }

  /** The dump loop itself, factored from main so VerifyLedgerSpec can
    * drive it with a deliberately-throwing canary query (the round-9
    * masking bug — a thrown query silently vanishing from the ledger —
    * deserves a regression test, not just the fix). Returns the error
    * map it also writes as verify_errors.json.
    */
  def run(spark: SparkSession,
          queries: Map[String, (SparkSession, String) => DataFrame],
          oracleSql: Map[String, String],
          sfDir: String, outDir: String,
          only: Option[Set[String]] = None): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    // A query that throws must leave a durable record, not just a stderr
    // line: in round 9 two broken queries simply vanished from the driver's
    // correctness JSON and the 130-of-132 ledger read as complete. Collect
    // failures and dump them as verify_errors.json next to oracle_sql.json.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    errors.toMap
  }
}
