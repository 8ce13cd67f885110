package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool for the optimization rounds: run one registry query
  * (warmup + one timed pass) and print every Spark JOB's wall time so
  * serial-action overhead is attributable. Not part of the driver
  * contract; never timed.
  *
  * Usage: runMain graft.JobProfile <sfDir> <query>[,query...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProfile <sfDir> <query>[,...]")
    val sfDir = args(0)
    val names = args.drop(1).flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var rows = List.empty[(Int, Double, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(),
          Option(js.properties.getProperty("spark.job.description"))
            .getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null)
          rows = (je.jobId, (System.nanoTime() - s._1) / 1e9, s._2) :: rows
      }
    })
    def mat(n: String): Unit =
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    names.foreach { n0 =>
      val n = SparkEntry.queries.keys.find(k => k == n0 || k.startsWith(n0 + "_"))
        .getOrElse(sys.error(s"unknown query $n0"))
      mat(n) // warmup
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache(); System.gc()
      rows = Nil
      val t0 = System.nanoTime()
      mat(n)
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // drain listener
      println(f"[jobprofile] $n total ${dt}%.3f s, ${rows.size} jobs:")
      rows.sortBy(_._1).foreach { case (id, d, desc) =>
        println(f"[jobprofile]   job $id%4d ${d}%7.3f s  $desc")
      }
    }
    spark.stop()
  }
}
