package lakebench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session. The settings are graft.Bench's, so a
  * number here and a number from the registry sweep come from the same
  * engine configuration; `perfbench/test_lakebench.py` fails when the
  * two drift apart. Only the thread count differs in origin: this is
  * always every core the JVM sees (`local[nproc]`). */
object Session {
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096",
    "spark.sql.extensions" -> "graft.lake.LakeExtensions",
    "spark.ui.enabled" -> "false")

  def build(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
    settings(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Spans around calls into the program's layers, kept in memory and
  * written out when the run ends. The benchmark drives one statement at
  * a time from one thread, so a plain stack gives each span its parent.
  * With tracing off a span is just its body. */
final class Tracer(runId: String) {
  var on = false
  private val done = ArrayBuffer.empty[(Int, Int, String, Long, Long)]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += ((id, parent, name, t0, System.nanoTime()))
      }
    }

  def json: String = done.sortBy(_._1).map { case (id, parent, name, t0, t1) =>
    s"""{"id":$id,"parent":$parent,"name":${Json.str(name)},"start_ns":$t0,""" +
      s""""end_ns":$t1,"run":${Json.str(runId)}}"""
  }.mkString("[", ",", "]")
}

/** Jobs, shuffle bytes and spilled bytes, attributed to the statement
  * that caused them through a local property set before each statement.
  * Listener events arrive asynchronously, so totals are read only after
  * [[org.apache.spark.lakebench.Bus.drain]] at the end of the run. */
final class EngineCounters extends SparkListener {
  val Key = "lakebench.op"
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val byOp = new java.util.concurrent.ConcurrentHashMap[String, Array[AtomicLong]]()

  private def slot(op: String): Array[AtomicLong] =
    byOp.computeIfAbsent(op, _ => Array.fill(3)(new AtomicLong))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .foreach(op => slot(op)(0).incrementAndGet())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .foreach(op => stageOp.put(e.stageInfo.stageId, op))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (op <- Option(stageOp.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val s = slot(op)
      s(1).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s(2).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  /** (jobs, shuffle bytes, spill bytes) per op label. */
  def snapshot: Map[String, (Long, Long, Long)] =
    byOp.asScala.map { case (k, v) => k -> ((v(0).get, v(1).get, v(2).get)) }.toMap
}

/** Everything one run measured, written as one JSON file for run.py to
  * reduce. Every record carries the seed. */
final class Recorder(val workload: String, val seed: Long, val traced: Boolean) {
  val runId = s"$workload-$seed-${ProcessHandle.current().pid()}"
  val trace = new Tracer(runId)
  val counters = new EngineCounters
  private val ops = ArrayBuffer.empty[String]
  private val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val setups = ArrayBuffer.empty[Double]
  private val failures = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var opSeq = 0L
  private var lastTraced = false
  private val perLabel = scala.collection.mutable.Map.empty[String, Int]

  /** Runs one statement-level operation with its engine-counter label
    * set, and returns its result with its wall time in ms. In a traced
    * run every other operation of each label is traced, so the same
    * statements run both ways and their gap is the tracing overhead. */
  def op[T](spark: SparkSession, label: String)(body: => T): (T, Double) = {
    opSeq += 1
    // a label starts traced or untraced by the parity of its first
    // appearance, so each round of labels is half traced
    val k = perLabel.getOrElseUpdate(label, perLabel.size % 2)
    perLabel(label) = k + 1
    val was = trace.on
    trace.on = traced && k % 2 == 0
    lastTraced = trace.on
    val sc = spark.sparkContext
    sc.setLocalProperty(counters.Key, s"$label#$opSeq")
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    } finally {
      sc.setLocalProperty(counters.Key, null)
      trace.on = was
    }
  }

  def lastOpKey(label: String): String = s"$label#$opSeq"

  /** One sample: `fields` are (name, value) pairs; strings are quoted.
    * Each carries the seed, the last operation's counter key and
    * whether that operation was traced. */
  def sample(fields: (String, Any)*): Unit =
    ops += Json.obj(Seq("seed" -> seed, "op_seq" -> opSeq, "traced" -> lastTraced) ++ fields)

  def value(name: String, v: Double): Unit = values(name) = v
  def setup(seconds: Double): Unit = setups += seconds

  /** Counts one output check; a failed one carries its reason. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) failures += what.take(400)
    ok
  }

  def write(path: Path, config: Seq[(String, String)], extra: Seq[(String, Any)]): Unit = {
    val engine = counters.snapshot.map { case (k, (j, sh, sp)) =>
      s"${Json.str(k)}:[$j,$sh,$sp]" }.mkString("{", ",", "}")
    val body = Seq(
      s""""workload":${Json.str(workload)}""",
      s""""seed":$seed""",
      s""""traced":$traced""",
      s""""run_id":${Json.str(runId)}""",
      s""""config":${Json.obj(config)}""",
      s""""setup_s":${setups.mkString("[", ",", "]")}""",
      s""""checks":{"attempted":$attempted,"failed":${failures.size},""" +
        s""""failures":${failures.map(Json.str).mkString("[", ",", "]")}}""",
      s""""values":${Json.obj(values.toSeq)}""",
      s""""ops":${ops.mkString("[", ",", "]")}""",
      s""""engine":$engine""",
      s""""spans":${trace.json}""") ++ extra.map { case (k, v) => s"${Json.str(k)}:${Json.any(v)}" }
    Files.writeString(path, body.mkString("{", ",", "}\n"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def any(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${any(v)}" }.mkString("{", ",", "}")
}

/** Machine-state and process probes that are not part of the program. */
object Probe {
  /** Wall time of every core spinning a fixed xorshift loop at once —
    * graft.Bench's `calp` sentinel. A run whose spin is slow ran on a
    * contended machine, whatever the code did. Min of three. */
  val SpinIters = 20000000

  def spinParMs(): Double = {
    def spin(): Long = {
      var x = 88172645463325252L; var i = 0
      while (i < SpinIters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    val n = Runtime.getRuntime.availableProcessors
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val ts = (1 to n).map(_ => new Thread(() => { if (spin() == 0) System.err.print("") }))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Bytes of regular files under `dir`. */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
