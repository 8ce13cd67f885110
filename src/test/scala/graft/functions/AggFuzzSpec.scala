package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property fuzz for the r14 aggregate additions: the value-distinct
  * bounded top-K (BandedAnn's candidate cut) and the mergeable
  * Misra–Gries summary (streaming heavy hitters) must honor their
  * contracts under every partitioning — the exact layouts the map-side
  * combine and the streaming state store produce are not controllable,
  * so the gate is the property, not one layout. */
class AggFuzzSpec extends SparkSpec {

  test("fuzz: smallestKDistinct == sorted.distinct.take(k) under any " +
    "partitioning, duplicate-heavy inputs, k at and past the edge") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val r = new scala.util.Random(seed)
      // heavy duplication: values drawn from a small domain so dups
      // straddle partitions AND buffer-full boundaries
      val rows = (1 to 3000).map(_ =>
        (r.nextInt(4), (r.nextInt(40) + 1).toLong))
      for (parts <- Seq(1, 5, 16); k <- Seq(1, 7, 40, 500)) {
        val got = rows.toDF("g", "v").repartition(parts)
          .groupBy("g")
          .agg(TopK.smallestKDistinct(k, col("v")).as("top"))
          .collect().map(row => row.getInt(0) -> row.getSeq[Long](1)).toMap
        val want = rows.groupBy(_._1).map { case (g, vs) =>
          g -> vs.map(_._2).distinct.sorted.take(k).toSeq
        }
        assert(got == want, s"seed=$seed parts=$parts k=$k")
      }
    }
  }

  test("fuzz: MgSummaryAgg coverage and count bounds hold for every " +
    "group under any partitioning") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed * 11)
      // zipf-ish: low keys hot, long rare tail, multiple groups
      val rows = (1 to 4000).map { _ =>
        val k = if (r.nextInt(3) == 0) r.nextInt(3).toLong
                else 10L + r.nextInt(300)
        (r.nextInt(3), k)
      }
      for (parts <- Seq(1, 7, 16); s <- Seq(2, 5, 20)) {
        val got = rows.toDF("g", "k").repartition(parts)
          .groupBy("g").agg(Mg.summary(s, col("k")).as("top"))
          .collect().map { row =>
            row.getInt(0) -> row.getSeq[org.apache.spark.sql.Row](1)
              .map(x => x.getLong(0) -> x.getLong(1)).toMap
          }.toMap
        rows.groupBy(_._1).foreach { case (g, vs) =>
          val truth = vs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
          val n = vs.size.toLong
          val err = n / (s + 1)
          val sum = got(g)
          assert(sum.size <= s, s"seed=$seed parts=$parts s=$s g=$g: " +
            s"${sum.size} counters")
          truth.filter(_._2 > err).foreach { case (k, c) =>
            assert(sum.contains(k),
              s"seed=$seed parts=$parts s=$s g=$g: heavy $k ($c of $n) missing")
          }
          sum.foreach { case (k, c) =>
            val t = truth.getOrElse(k, 0L)
            assert(c <= t && c >= t - err,
              s"seed=$seed parts=$parts s=$s g=$g: key $k reported $c true $t err $err")
          }
        }
      }
    }
  }
}
