package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable HLL sketches as a STORED AGGREGATE COLUMN — q128's
  * documented 100 TB posture made real (VERDICT r12 next-step #4), and
  * the device that lets M54-style incremental refresh handle COUNT
  * DISTINCT, the canonical non-decomposable aggregate: a plain
  * per-day `COUNT(DISTINCT user_id)` materialization cannot answer
  * 7-day windows (distinct does not sum), and re-scanning events per
  * anchor is O(events × windows). A per-day DataSketches HLL sketch IS
  * mergeable: build each day's sketch ONCE (one map-side-combined pass
  * over that day's events), store the binary column, and every rolling
  * window, backfill, or late-day refresh is a UNION of |window| stored
  * sketches — O(days) work, events never re-read.
  *
  * All three stages ride Spark's native DataSketches aggregates
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`) — fully
  * map-side combinable, no UDAF, no driver state. The sketch column
  * round-trips through parquet (spec-proven), so the daily table is a
  * genuine incremental-MV base, not a transient DF.
  *
  * Accuracy is the HLL contract: relative standard error
  * ≈ 1.04/√(2^lgConfigK) (~1.6% at the default lgK=12), spec-asserted
  * against the exact q128_rolling_wau. G6 posture: estimates are
  * excluded from the DuckDB hash gate by design (DuckDB's HLL is a
  * different sketch); the gate is the error-bound differential. */
object SketchWau {

  /** One mergeable HLL sketch of distinct `user_id`s per calendar day —
    * the stored aggregate. One pass over events, |days| rows out. */
  def dailySketches(events: DataFrame, lgConfigK: Int = 12): DataFrame =
    events
      .select(col("ts").cast("date").as("d"), col("user_id"))
      .groupBy("d")
      .agg(hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sketch"))

  /** Rolling `window`-day approximate WAU from the STORED daily
    * sketches: each day's sketch posts to its `window` covering anchors
    * (the q128 fan-out, but of |days| sketch rows, not |day×user|
    * pairs), anchors union their sketches and estimate. O(days·window)
    * sketch merges; events are never touched. */
  def rollingWau(daily: DataFrame, window: Int = 7): DataFrame = {
    val bounds = daily.groupBy().agg(min("d").as("mn"), max("d").as("mx"))
    daily
      .select(col("d"), explode(sequence(lit(0), lit(window - 1))).as("i"),
        col("sketch"))
      .select(date_add(col("d"), col("i")).as("day"), col("sketch"))
      .crossJoin(broadcast(bounds)) // one-row calendar bounds
      .filter(col("day").between(col("mn"), col("mx")))
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("wau_approx"))
      .orderBy("day")
  }
}
