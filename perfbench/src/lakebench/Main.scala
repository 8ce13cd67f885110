package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.lake.LakeCatalog

/** Sizes of one run. The row count and slice width fix the work; the
  * seed only chooses values and which key slices are hit.
  * `minOps` is the least number of timed reads in a `mor_read` run.
  * `record` makes `query_sweep` record its answers' fingerprints instead
  * of checking them. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Int,
    traced: Boolean,
    work: Path,
    out: Path,
    rows: Long = 20000L,
    sliceOrders: Long = 50L,
    setupReps: Int = 2,
    minOps: Int = 20,
    record: Boolean = false)

/** `lakebench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <file> [--data <dir> --fingerprints <tsv> [--record 1]]`
  *
  * Runs one workload in this JVM and writes its raw record to `--out`;
  * `perfbench/run.py` reduces records to metrics. Everything it writes
  * lands under `--work`. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cfg = Config(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      traced = need("trace") == "1",
      work = Paths.get(need("work")).toAbsolutePath,
      out = Paths.get(need("out")).toAbsolutePath,
      record = kv.get("record").contains("1"))
    val cpus = Runtime.getRuntime.availableProcessors
    val spin = Probe.spinParMs()
    val spark = Session.build(cpus)
    val rec = new Recorder(cfg.workload, cfg.seed, cfg.traced)
    spark.sparkContext.addSparkListener(rec.counters)
    try {
      Files.createDirectories(cfg.work)
      val wh = cfg.work.resolve("warehouse")
      val catalog = new LakeCatalog(spark, wh)
      cfg.workload match {
        case "mor_read" =>
          Data.stage(spark, cfg.work.resolve("input"), cfg.rows, cfg.seed)
          MorRead.run(spark, catalog, rec, cfg)
        case "mor_write_maintain" =>
          MorWriteMaintain.run(spark, catalog, rec, cfg)
        case "query_sweep" =>
          val fps = kv.get("fingerprints").toSeq.flatMap(f =>
            Files.readAllLines(Paths.get(f)).asScala.filter(_.contains("\t")))
            .map { l => val Array(n, fp) = l.split("\t", 2); n -> fp }.toMap
          QuerySweep.run(spark, rec, cfg, Paths.get(need("data")).toAbsolutePath, fps)
        case "selftest" =>
          SelfTest.run(spark, catalog, rec, cfg)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      org.apache.spark.lakebench.Bus.drain(spark.sparkContext)
      rec.value("env.spin_par_ms", spin)
      rec.value("peak_rss_mb", Probe.peakRssMb())
      val sweep = cfg.workload == "query_sweep"
      rec.write(cfg.out, Session.settings(cpus), Seq(
        "rows" -> (if (sweep) SweepData.LineitemRows else cfg.rows), "seconds" -> cfg.seconds,
        "inputs" -> (if (sweep) s"fixed tables from SweepData seed ${SweepData.Seed}; " +
          s"seed ${cfg.seed} orders the queries" else s"generated from seed ${cfg.seed}")))
    } finally spark.stop()
  }
}
