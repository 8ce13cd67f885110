package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property fuzz for the r14 aggregate addition: the value-distinct
  * bounded top-K (BandedAnn's candidate cut) must honor its contract
  * under every partitioning — the exact layouts the map-side combine
  * produces are not controllable, so the gate is the property, not one
  * layout. */
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
}
