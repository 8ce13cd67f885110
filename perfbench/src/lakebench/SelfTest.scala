package lakebench

import org.apache.spark.sql.SparkSession

import graft.lake.{LakeCatalog, LakeSql}

/** The expected-answer replays, checked at sf0.001 size (6,000 rows):
  * both lake workloads must pass every output check against their
  * replay, and a replay that misses one deleted slice must disagree
  * with the lake table, so the comparison can fail at all. */
object SelfTest {
  def run(spark: SparkSession, catalog: LakeCatalog, rec: Recorder, cfg: Config): Unit = {
    val small = cfg.copy(rows = 6000L, sliceOrders = 10L, setupReps = 1, seconds = 0, minOps = 1)
    Data.stage(spark, cfg.work.resolve("input"), small.rows, rec.seed)
    MorRead.run(spark, catalog, rec, small)

    val deleted = Data.slices(small.rows, small.sliceOrders, MorRead.DeleteCommits, rec.seed)
    val sql = new LakeSql(catalog)
    val lake = sql.run(MorRead.shapeSql("scan", "r1.pos")).head()
    MorRead.replay(spark, deleted.drop(1))
    val wrong = spark.sql(MorRead.shapeSql("scan", "live")).head()
    rec.check(lake != wrong, s"a replay missing one slice still matches: $lake")

    MorWriteMaintain.run(spark, catalog, rec, small)
  }
}
