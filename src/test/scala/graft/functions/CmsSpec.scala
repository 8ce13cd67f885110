package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.SketchHeavyHitters

/** Gates for the mergeable Count-Min sketch and the stored windowed
  * heavy-hitter operator: overestimate-only with the additive bound,
  * merge ≡ build exactly (CMS merge is element-wise add — no error
  * growth), the pigeonhole candidate-coverage guarantee under an
  * adversarial split, and the end-to-end rolling top-k vs exact window
  * counts on real events. */
class CmsSpec extends SparkSpec {

  /** Top-`k` (key, estimate) per anchor day from the stored-state
    * candidate estimates, count descending with ties on key. */
  private def rollingTopK(est: DataFrame, k: Int): Map[String, Seq[(Long, Long)]] =
    est.collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (day, rows) =>
        day -> rows.map(r => (r._2, r._3)).toSeq
          .sortBy { case (key, c) => (-c, key) }.take(k)
      }

  test("point estimates never undercount and respect the additive bound; " +
    "merge of part-sketches equals the one-stream sketch byte-for-byte") {
    val rnd = new scala.util.Random(11)
    // zipf-ish: key j appears ~ 5000/j times
    val xs = (1 to 200).flatMap(j => Seq.fill(5000 / j)(j.toLong))
    val shuffled = rnd.shuffle(xs)
    val truth = shuffled.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val one = new CmsState(5, 2048)
    shuffled.foreach(one.update(_))
    val bound = math.ceil(math.E * shuffled.size / 2048).toLong
    truth.foreach { case (k, c) =>
      val est = one.estimate(k)
      assert(est >= c, s"undercount: key=$k est=$est true=$c")
      assert(est <= c + bound, s"key=$k est=$est true=$c bound=$bound")
    }
    // absent keys estimate at most the bound (pure collision mass)
    assert(one.estimate(999999L) <= bound)
    val merged = new CmsState(5, 2048)
    shuffled.grouped(997).foreach { part =>
      val s = new CmsState(5, 2048)
      part.foreach(s.update(_))
      merged.mergeWith(CmsState.deserialize(s.serialize()))
    }
    assert(java.util.Arrays.equals(merged.serialize(), one.serialize()))
  }

  test("daily candidate sets cover every window heavy hitter " +
    "(pigeonhole) even when its daily counts are individually spread") {
    import spark.implicits._
    // adversarial shape: key 42 is never a daily TOP key but exceeds
    // the 1/s window share; spiky keys dominate single days
    val s = 10
    val days = (0 until 5)
    val rows = days.flatMap { d =>
      val spiky = Seq.fill(60)((s"2024-01-0${d + 1}", (100 + d).toLong))
      val steady = Seq.fill(30)((s"2024-01-0${d + 1}", 42L)) // 30/90 > 1/10
      val noise = (0 until 100).map(i => (s"2024-01-0${d + 1}", (1000 + i + d * 100).toLong))
      spiky ++ steady ++ noise
    }
    val events = rows.toDF("ds", "user_id")
      .select(col("ds").cast("timestamp").as("ts"), col("user_id"))
    val daily = SketchHeavyHitters.dailyState(events, s = s)
    val cands = daily.select(explode(col("cands"))).as[Long].collect().toSet
    assert(cands.contains(42L), s"steady heavy hitter missing: $cands")
    val top = rollingTopK(
        SketchHeavyHitters.rollingCandidateEstimates(daily, window = 5), k = 2)
      .getOrElse("2024-01-05", Nil).map(_._1)
    assert(top.contains(42L), s"rolling top-2 on the full window: ${top.toSeq}")
  }

  test("rolling top-k from stored state matches exact trailing-window " +
    "counts on real events (sf0.01)") {
    val events = Tables(spark, "/root/testdata/sf0.01", "events")
    // width 8192 over ~10³ window keys: the min-of-5-rows collision
    // mass is deterministically zero on this data, so the comparison
    // below can demand exact counts (hashes are fixed — no flake)
    val daily = SketchHeavyHitters.dailyState(events, s = 100, width = 8192)
    val got = rollingTopK(SketchHeavyHitters
      .rollingCandidateEstimates(daily, window = 7, width = 8192), k = 3)
    assert(got.nonEmpty)
    // exact: same fan-out, real counts, same (cnt desc, key) tiebreak
    val exact = events
      .select(col("ts").cast("date").as("d"), col("user_id").as("k"))
      .select(col("k"), explode(sequence(lit(0), lit(6))).as("i"), col("d"))
      .select(date_add(col("d"), col("i")).as("day"), col("k"))
      .groupBy("day", "k").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val anchors = got.keySet
    got.foreach { case (day, gotDay) =>
      val truth = exact(day).map(t => (t._2, t._3)).toSeq
        .sortBy { case (k, c) => (-c, k) }.take(3)
      assert(gotDay == truth, s"$day: got=$gotDay exact=$truth")
    }
    // anchors cover the sketch table's day range (window fan-out)
    assert(anchors.size >= exact.size - 6)
  }
}
