package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Cms

/** Rolling-window HEAVY HITTERS from stored daily state — the frequency
  * member of the stored-sketch suite ([[SketchWau]] = distinct,
  * [[SketchQuantiles]] = quantiles): "top users over any trailing
  * window" cannot be answered from daily top lists alone (a steady
  * mid-rank user can out-total spiky daily winners), and re-scanning
  * events per window is O(events × windows). The sound decomposition
  * stores TWO things per day:
  *
  *  - a Count-Min sketch of the day's keys (mergeable: element-wise
  *    add), for RECOUNTING any candidate over any window, and
  *  - the day's candidate set {key : count_d > n_d/s} — by pigeonhole,
  *    any key with WINDOW share > 1/s must exceed the per-day threshold
  *    in at least one member day (if count_d ≤ n_d/s for every day,
  *    summing gives count ≤ N/s), so the union over the window's days
  *    COVERS every window heavy hitter. Each day contributes < s
  *    candidates, so state stays bounded.
  *
  * A window query is then O(window) sketch merges + O(window·s)
  * candidate recounts — events never re-read. Estimates are CMS
  * overestimates with additive error ≤ e·N/width per row (spec-gated);
  * the q117 Misra–Gries single-pass operator is the in-query cousin —
  * this is its STORED, any-window-later form. */
object SketchHeavyHitters {

  /** Per-day stored state: CMS sketch + bounded candidate list + n.
    * Events are scanned ONCE — the (day, key) count aggregate (map-side
    * combined, the q128 dedup-scale shuffle class) feeds everything
    * downstream: the sketch builds from the counts via WEIGHTED updates
    * (`Cms.sketchWeighted` — `cnt` updates of `key` in one fold), n is
    * the count sum, and candidates filter the same table. */
  def dailyState(events: DataFrame, keyCol: String = "user_id",
                 s: Int = 200,
                 depth: Int = graft.functions.CmsState.DefaultDepth,
                 width: Int = graft.functions.CmsState.DefaultWidth)
      : DataFrame = {
    val counts = events
      .select(col("ts").cast("date").as("d"),
        col(keyCol).cast("long").as("k"))
      .groupBy("d", "k").agg(count(lit(1)).as("cnt"))
      // the counts table is read by three aggregates below; one pass
      // over events, one materialization of the (day, key) table
      .localCheckpoint(true)
    val sketches = counts.groupBy("d").agg(
      Cms.sketchWeighted(col("k"), col("cnt"), depth, width).as("sketch"),
      sum(col("cnt")).as("n"))
    val cands = counts
      .join(sketches.select(col("d"), col("n")), "d")
      .filter(col("cnt") * s > col("n")) // day share > 1/s ⇒ candidate
      .groupBy("d").agg(collect_list(col("k")).as("cands"))
    sketches.join(cands, Seq("d"), "left")
      .select(col("d"), col("sketch"), col("n"),
        coalesce(col("cands"), array().cast("array<long>")).as("cands"))
  }

  /** Every window candidate's CMS estimate per trailing `window`-day
    * anchor — (day, k, est_cnt), the core of q159's bound gate; a
    * window's top-k is its k largest `est_cnt` rows. O(days·window)
    * merges, O(days·window·s) estimates — from STORED state only. */
  def rollingCandidateEstimates(daily: DataFrame, window: Int = 7,
      depth: Int = graft.functions.CmsState.DefaultDepth,
      width: Int = graft.functions.CmsState.DefaultWidth): DataFrame = {
    val bounds = daily.groupBy().agg(min("d").as("mn"), max("d").as("mx"))
    val anchored = daily
      .select(col("d"), explode(sequence(lit(0), lit(window - 1))).as("i"),
        col("sketch"), col("cands"))
      .select(date_add(col("d"), col("i")).as("day"), col("sketch"),
        col("cands"))
      .crossJoin(broadcast(bounds))
      .filter(col("day").between(col("mn"), col("mx")))
      .groupBy("day")
      .agg(Cms.merge(col("sketch"), depth, width).as("sk"),
        array_distinct(flatten(collect_list(col("cands")))).as("cand"))
    anchored
      .select(col("day"), col("sk"), explode(col("cand")).as("k"))
      .select(col("day"), col("k"),
        Cms.estimate(col("sk"), col("k")).as("est_cnt"))
  }
}
