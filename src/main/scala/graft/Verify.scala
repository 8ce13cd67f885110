package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Body of the dump, parameterized for tests. Every query name MUST
    * leave a trace: a parquet dump on success or an entry in the returned
    * map (also written as errors.json) on failure. r7's catch printed to
    * stderr and wrote nothing, so three broken queries simply vanished
    * from the correctness report and it read as all-green (VERDICT r7
    * #2); absent is now impossible — errors.json is written even when
    * empty, and VerifyContractSpec asserts the dump-or-error invariant
    * with a deliberately broken query. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.toString).take(500)
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    // dev loop (mirrors Bench's SPARK_GRAFT_BENCH_ONLY): restrict the dump
    // to a comma-separated subset; the driver never sets this
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val qs = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    val os = SparkEntry.oracleSql.filter { case (n, _) => only.forall(_.contains(n)) }
    val errors = run(spark, sfDir, outDir, qs, os)
    spark.stop()
    // Loud exit: the driver's gate must see a broken query as a failure,
    // never as a quietly-shorter report.
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries failed: " +
        errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
