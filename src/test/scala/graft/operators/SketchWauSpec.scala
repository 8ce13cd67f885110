package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.lake.{LakeCatalog, LakeSql}
import graft.queries.Registry

/** Gates for the mergeable-HLL stored-aggregate device (G6 posture: the
  * estimate is excluded from the DuckDB hash compare by design — DuckDB
  * ships a different sketch — so the gates are (1) the HLL error
  * contract vs the EXACT q128, (2) parquet round-trip of the sketch
  * column with the refresh reading O(days) rows and never the events
  * table, (3) late events folded in by an incremental materialized-view
  * refresh ≡ full rebuild. */
class SketchWauSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  test("rolling WAU from stored sketches tracks the exact q128 within " +
    "the HLL error contract on every anchor day") {
    val events = Tables(spark, sf01, "events")
    val daily = SketchWau.dailySketches(events)
    val approx = SketchWau.rollingWau(daily)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val exact = Registry.queries("q128_rolling_wau")(spark, sf01)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet,
      s"anchor days diverge: ${approx.keySet.diff(exact.keySet)} / " +
        s"${exact.keySet.diff(approx.keySet)}")
    // lgK=12 ⇒ RSE ≈ 1.04/√4096 ≈ 1.6%; 3σ ≈ 5% is the contract bound
    // (at this SF the sketch is usually still in exact sparse mode)
    exact.foreach { case (day, ex) =>
      val ap = approx(day)
      assert(math.abs(ap - ex) <= math.max(1L, (ex * 0.05).toLong),
        s"$day: approx=$ap exact=$ex")
    }
  }

  test("the sketch column is a real STORED aggregate: parquet round-trip, " +
    "and the rolling window reads |days| sketch rows, never events") {
    val events = Tables(spark, sf01, "events")
    val daily = SketchWau.dailySketches(events)
    val nDays = daily.count()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sketch-mv").toString
    daily.write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    assert(stored.count() == nDays)
    // the refresh plan scans the sketch parquet only — O(days) input
    val wau = SketchWau.rollingWau(stored)
    val scans = wau.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.mkString(",")
    }
    assert(scans.nonEmpty && scans.forall(_.contains(dir)), scans.toString)
    assert(!scans.exists(_.contains("events")), scans.toString)
    // and the estimates from the ROUND-TRIPPED sketches match the
    // estimates from the in-memory ones value-for-value
    val fromStore = wau.collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val fromMem = SketchWau.rollingWau(daily)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(fromStore == fromMem)
  }

  test("late-event merge into a stored day ≡ full rebuild (incremental " +
    "MV refresh for COUNT DISTINCT)") {
    val events = Tables(spark, sf01, "events")
    val lastDay = events.select(max(col("ts").cast("date"))).head().getDate(0)
    // late = the last day's even event ids: its odd ones are already
    // sketched, so the late rows must union INTO a stored day
    val isLate = col("ts").cast("date") >= lit(lastDay) && col("event_id") % 2 === 0
    val early = events.filter(!isLate)
    val late = events.filter(isLate)
    assert(late.limit(1).count() == 1, "fixture needs a non-empty last day")
    assert(early.filter(col("ts").cast("date") >= lit(lastDay)).limit(1).count() == 1,
      "fixture needs an already-sketched last day")
    // split-brain refresh: the stored daily table is a materialized view
    // over the early events; appending ONLY the late slice and refreshing
    // must union the new sketches in (hll_union_agg), not recompute
    val cat = new LakeCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-sketch-refresh"))
    cat.createNamespace("db")
    val cols = Seq(col("ts"), col("user_id"))
    val ev = early.select(cols: _*)
    cat.createTable("db", "ev", ev.schema).append(ev)
    val sql = new LakeSql(cat)
    sql.run("CREATE MATERIALIZED VIEW db.daily AS SELECT CAST(ts AS DATE) AS d, " +
      "hll_sketch_agg(user_id) AS sketch FROM db.ev GROUP BY CAST(ts AS DATE)")
    cat.loadTable("db", "ev").get.append(late.select(cols: _*))
    val msg = sql.run("REFRESH MATERIALIZED VIEW db.daily").head().getString(0)
    assert(msg.contains("incrementally"), msg)
    val refreshed = sql.run("SELECT d, sketch FROM db.daily")
    val rebuilt = SketchWau.dailySketches(events)
    assert(refreshed.count() == rebuilt.count(), "one stored row per day")
    val a = SketchWau.rollingWau(refreshed)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val b = SketchWau.rollingWau(rebuilt)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(a == b, s"refresh diverged from rebuild: ${a.toSet.diff(b.toSet)}")
  }
}
