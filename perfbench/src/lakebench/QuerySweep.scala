package lakebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries.{LakeQueries, QueryDef, RelQueries, Registry}

/** `query_sweep`: a fixed subset of `graft.queries.Registry` over the
  * fixed inputs of [[SweepData]], run the way `graft.Bench` runs the
  * whole registry: every query materialized through the noop sink, and
  * the session levelled before each one (persisted RDDs unpersisted,
  * cache cleared, GC).
  *
  * Set-up runs the subset [[Config.setupReps]] times, each in a new session of
  * the same context, so every pass builds the session-memoized fixtures
  * the lake and index queries keep; each set-up pass also checks every
  * answer against its recorded fingerprint. The timed passes run in the
  * last session, each in an order the seed shuffles, until the run's time
  * is up and at least [[MinPasses]] have run. */
object QuerySweep {
  /** Chosen from the registry to span its three groups within a run of
    * about half a minute: a lake incremental read (whose fixture is the
    * lake table the sweep writes), an aggregate, a broadcast join, vector
    * top-k, and the MinHash near-duplicate pipeline, the heaviest query
    * that fits. */
  val Queries: Seq[String] = Seq(
    "q61_incremental_read", "q10_agg_pricing", "q11_join_broadcast",
    "q28_cosine_topk", "q34_minhash_neardup")

  /** Timed passes a run makes at least. A pass runs each query once, after
    * a levelling, as graft.Bench takes each of its samples; a query's time
    * is its median over the run's passes. Spreading a query's samples over
    * the run, rather than taking them back to back, keeps a burst of load
    * on the machine from moving most of them at once. */
  val MinPasses = 4

  def group(name: String): String =
    if (LakeQueries.defs.exists(_.name == name)) "lake"
    else if (RelQueries.defs.exists(_.name == name)) "rel"
    else "llm"

  /** Order-insensitive fingerprint of a query's answer: row count and the
    * sum of row hashes. Floating-point values enter with 7 significant
    * digits, so a changed summation order does not change it. */
  def fingerprint(df: DataFrame): String = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.6e", c.cast("double") + 0.0)
      case ArrayType(et, _) => transform(c, norm(_, et))
      case s: StructType =>
        struct(s.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _: MapType => c.cast("string")
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def level(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Analysis, optimization and planning time of each noop write, in the
    * order they ran. Listener calls arrive on Spark's listener thread. */
  final class PlanTimes extends QueryExecutionListener {
    val ms = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.analyzed match {
        case w: V2WriteCommand if w.table.toString.toLowerCase.contains("noop") =>
          ms.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
        case _ =>
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Bytes under the program's temporary lake warehouses (`graft-*`). */
  private def warehouseBytes(tmp: Path): Long = {
    val s = Files.list(tmp)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-"))
      .map(Probe.bytesUnder).sum
    finally s.close()
  }

  /** `dir` holds the inputs, or is where they are written first. */
  def run(spark0: SparkSession, rec: Recorder, cfg: Config, dir: Path,
      fingerprints: Map[String, String]): Unit = {
    val tr = rec.trace
    SweepData.ensure(spark0, dir)
    val byName = Registry.all.map(d => d.name -> d).toMap
    val defs: Seq[QueryDef] = Queries.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"$n is not in the registry")))
    val tmp = Path.of(System.getProperty("java.io.tmpdir"))

    def one(spark: SparkSession, d: QueryDef): DataFrame =
      tr("Registry.run")(d.run(spark, dir.toString))

    var spark = spark0
    for (rep <- 1 to cfg.setupReps) {
      spark = spark0.newSession()
      tr.on = rec.traced
      val b0 = warehouseBytes(tmp)
      val t0 = System.nanoTime()
      val got = tr("setup")(defs.map { d =>
        level(spark)
        d.name -> (try fingerprint(one(spark, d))
                   catch { case e: Throwable => s"error: $e" })
      })
      rec.setup((System.nanoTime() - t0) / 1e9)
      tr.on = false
      rec.sample("op" -> "sweep.stored", "bytes" -> (warehouseBytes(tmp) - b0))
      for ((n, fp) <- got) {
        if (cfg.record) rec.sample("op" -> "sweep.fingerprint", "name" -> n, "fingerprint" -> fp)
        else rec.check(fingerprints.get(n).contains(fp),
          s"$n answered $fp, recorded ${fingerprints.getOrElse(n, "nothing")}")
      }
    }

    val plans = new PlanTimes
    spark.listenerManager.register(plans)
    val rnd = new scala.util.Random(rec.seed)
    val deadline = System.nanoTime() + cfg.seconds * 1000000000L
    var pass = 0
    while (pass < MinPasses || System.nanoTime() < deadline) {
      for (d <- rnd.shuffle(defs)) {
        level(spark)
        val label = s"query.${d.name}"
        var build = 0.0
        val ((), ms) = rec.op(spark, label) {
          val a = System.nanoTime()
          val df = one(spark, d)
          build = (System.nanoTime() - a) / 1e6
          tr("materialize")(materialize(df))
        }
        rec.sample("op" -> "query", "name" -> d.name, "group" -> group(d.name), "ms" -> ms,
          "build_ms" -> build, "pass" -> pass, "engine_key" -> rec.lastOpKey(label))
      }
      pass += 1
    }
    org.apache.spark.lakebench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(plans)
    rec.value("sweep.plan_ms_total", plans.ms.asScala.sum)
  }
}
