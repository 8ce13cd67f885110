package graft

import java.nio.file.{Files, Paths}

/** Dev tool for the optimization rounds: dump `.explain("formatted")`
  * for named registry queries into `<outDir>/<name>_<tag>.txt` so plan
  * claims in OPTIMIZATION_*.md are checkable without running Spark.
  * Session from [[Bench.session]] (the plans must be the ones the
  * bench executes). Not part of the driver contract; never timed.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <query>[,query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <tag> <query>[,query...]")
    val Array(sfDir, outDir, tag) = args.take(3)
    val names = args.drop(3).flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PLANDUMP_NOCUT=1 disables the LAZY lineage cuts (the
    // [[Cut]] seam) so the dumped plan shows the full subtree above
    // them — VERDICT r19 #1: checkpoint-truncated dumps could not
    // evidence structural claims. Dev-tool-only switch; Bench/Verify
    // never set it, so the timed plans keep their cuts.
    if (sys.env.get("SPARK_GRAFT_PLANDUMP_NOCUT").contains("1"))
      Cut.disabled = true
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val full = SparkEntry.queries.keys.find(k => k == n || k.startsWith(n + "_"))
        .getOrElse(sys.error(s"unknown query $n"))
      val df = SparkEntry.queries(full)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${full}_$tag.txt"), plan)
      println(s"[plandump] wrote $outDir/${full}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
