package graft.queries

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{LakeCatalog, LakeTable, Procedures}

/** The reference's demo-table state machine (FIXTURES.md §A, from
  * /root/reference/internal/create_demo_table.py:97-138 and
  * internal/test_v3_mor_deletes.py:37-49):
  *
  *   create v2 MoR table → insert 10 rows → DELETE id IN (2,4,6) →
  *   UPDATE electronics ×1.1 → DELETE id = 1 →
  *   rewrite_data_files(rewrite-all) → upgrade to v3.
  *
  * Built once per SparkSession under a temp warehouse and memoized, so
  * q01–q08 (and the bench) time the *scans* of each state, not the DML.
  * The maintenance steps append snapshots to the same table without
  * deleting files (expire_snapshots is exercised in ScalaTest on scratch
  * tables), so earlier state handles stay readable.
  *
  * `current_timestamp()` is replaced by the fixed literal
  * 2026-01-01 00:00:00 UTC per the SURVEY §2.13 determinism contract.
  */
object DemoFixture {

  val Schema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("category", StringType),
    StructField("amount", DecimalType(10, 2)),
    StructField("created_at", TimestampType)))

  val FixedTs: Timestamp = Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))

  /** (id, name, category, amount) — create_demo_table.py:118-127. */
  val Products: Seq[(Int, String, String, String)] = Seq(
    (1, "Product A", "electronics", "199.99"),
    (2, "Product B", "electronics", "299.99"),
    (3, "Product C", "clothing", "49.99"),
    (4, "Product D", "clothing", "79.99"),
    (5, "Product E", "furniture", "599.99"),
    (6, "Product F", "furniture", "899.99"),
    (7, "Product G", "electronics", "149.99"),
    (8, "Product H", "clothing", "29.99"),
    (9, "Product I", "furniture", "449.99"),
    (10, "Product J", "electronics", "399.99"))

  final case class States(
      catalog: LakeCatalog,
      inserted: LakeTable,      // q01
      afterDeleteIn: LakeTable, // q02
      afterUpdate: LakeTable,   // q03
      afterDelete1: LakeTable,  // q04
      compacted: LakeTable,     // q05
      upgraded: LakeTable)      // q06

  private val cache = new SessionMemo[States]

  def apply(spark: SparkSession): States = cache(spark)(build)

  /** SQL statement list driving the same state machine through
    * `LakeSql.run` — the reference's actual compatibility surface
    * (create_demo_table.py:97-137 emits these strings over spark-sql).
    * The UPDATE is the bare reference statement; the engine's assignment
    * cast to the column type rounds HALF_UP, which the DuckDB oracle
    * mirrors with an explicit ROUND (same note as LakeQueries.replay). */
  def sqlStatements(table: String): Seq[String] = {
    val values = Products.map { case (id, n, c, a) =>
      s"($id, '$n', '$c', $a, TIMESTAMP '2026-01-01 00:00:00')"
    }.mkString(", ")
    Seq(
      s"""CREATE TABLE $table (
            id INT, name STRING, category STRING,
            amount DECIMAL(10,2), created_at TIMESTAMP)
          PARTITIONED BY (category)
          TBLPROPERTIES ('format-version'='2',
            'write.delete.mode'='merge-on-read',
            'write.update.mode'='merge-on-read')""",
      s"INSERT INTO $table VALUES $values",
      s"DELETE FROM $table WHERE id IN (2, 4, 6)",
      s"UPDATE $table SET amount = amount * 1.1 WHERE category = 'electronics'",
      s"DELETE FROM $table WHERE id = 1",
      s"CALL lake.system.rewrite_data_files(table => '$table', " +
        "options => map('rewrite-all', 'true'))",
      s"ALTER TABLE $table SET TBLPROPERTIES ('format-version'='3')")
  }

  private def build(spark: SparkSession): States = {
    val wh = Files.createTempDirectory("graft-demo-wh")
    // deterministic, strictly increasing snapshot clock
    var now = FixedTs.getTime
    val clock = () => { now += 1000L; now }

    val cat = new LakeCatalog(spark, wh, clock)
    cat.createNamespace("demo")
    val t0 = cat.createTable("demo", "v2_mor_demo", Schema, Seq("category"),
      Map(
        "format-version" -> "2",
        "write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read"))

    val rows = Products.map { case (id, n, c, a) =>
      Row(id, n, c, new java.math.BigDecimal(a), FixedTs)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Schema)

    val s1 = t0.append(df)
    val s2 = s1.delete(col("id").isin(2, 4, 6))
    val s3 = s2.update(
      Map("amount" -> (col("amount") * lit(new java.math.BigDecimal("1.1")))),
      col("category") === "electronics")
    val s4 = s3.delete(col("id") === 1)
    val s5 = Procedures.rewriteDataFiles(s4, Map("rewrite-all" -> "true")).table
    val s6 = Procedures.upgradeFormatVersion(s5)
    States(cat, s1, s2, s3, s4, s5, s6)
  }
}

/** The demo state machine driven end-to-end through [[graft.lake.LakeSql]]
  * statement dispatch instead of the engine API — so the reference's real
  * interface (SQL strings in) sits behind the CORRECTNESS hash gate
  * (VERDICT r3 next #7), not just behind ScalaTest. Memoized per session
  * like [[DemoFixture]]. */
object SqlDemoFixture {

  val TableName = "demo.v2_sql_demo"

  private val cache = new SessionMemo[graft.lake.LakeSql]

  def apply(spark: SparkSession): graft.lake.LakeSql =
    cache(spark)(build)

  private def build(spark: SparkSession): graft.lake.LakeSql = {
    val wh = Files.createTempDirectory("graft-sqldemo-wh")
    var now = DemoFixture.FixedTs.getTime
    val clock = () => { now += 1000L; now }
    val sql = new graft.lake.LakeSql(new LakeCatalog(spark, wh, clock))
    DemoFixture.sqlStatements(TableName).foreach(sql.run(_))
    sql
  }
}

