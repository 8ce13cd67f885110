package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Equality deletes apply two ways: within
  * `spark.graft.dv.broadcastBudgetBytes` their keys load on the driver
  * behind one broadcast filter per column set; past it (here: budget 0)
  * one anti-join per column set. Every case reads the same rows both
  * ways, and the rows it is meant to. */
class EqualityDeleteSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("category", StringType),
    StructField("amount", DoubleType)))

  private def morProps = Map(
    "write.delete.mode" -> "merge-on-read",
    "write.update.mode" -> "merge-on-read")

  private def catalogAt(wh: java.nio.file.Path): LakeCatalog = {
    var t = 1700000000000L
    val cat = new LakeCatalog(spark, wh, () => { t += 1000; t })
    cat.createNamespace("db")
    cat
  }

  private def freshCatalog(): LakeCatalog =
    catalogAt(Files.createTempDirectory("graft-eq-wh"))

  private def rows(s: StructType, rs: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), s)

  private def df(rs: Row*): DataFrame = rows(schema, rs: _*)

  private def keys(cols: (String, DataType)*)(rs: Row*): DataFrame =
    rows(StructType(cols.map { case (n, t) => StructField(n, t) }), rs: _*)

  private def ids(rs: Seq[Row]): Seq[Int] = rs.map(_.getAs[Number]("id").intValue).sorted

  private def render(t: LakeTable): Seq[String] =
    t.read().collect().map(_.toString).toSeq.sorted

  /** The table's rows through the driver filter, after checking that
    * the anti-join gives the same rows and that each path planned as
    * meant: no anti-join within the budget, one per column set past it. */
  private def bothWays(t: LakeTable): Seq[Row] = {
    val sets = t.deleteFiles.filter(_.kind == "equality").map(_.equalityCols).distinct.size
    assert(sets > 0, t.name)
    def antiJoins = "LeftAnti".r.findAllIn(
      t.read().queryExecution.executedPlan.toString).size
    assert(antiJoins == 0, s"${t.name}: the driver filter planned an anti-join")
    val driver = t.read().collect().toSeq
    spark.conf.set("spark.graft.dv.broadcastBudgetBytes", "0")
    try {
      assert(antiJoins == sets, s"${t.name}: one anti-join per column set past the budget")
      assert(render(t) == driver.map(_.toString).sorted, t.name)
    } finally spark.conf.unset("spark.graft.dv.broadcastBudgetBytes")
    driver
  }

  test("null keys: a null delete key hides null data values, one column and two") {
    val cat = freshCatalog()
    var t = cat.createTable("db", "nulls", schema, props = morProps)
      .append(df(Row(1, "a", 1.0), Row(2, null, 2.0), Row(3, "b", 3.0),
        Row(4, null, 4.0), Row(5, "c", 5.0)))
    t = t.addEqualityDeletes(keys("category" -> StringType)(Row(null), Row("b")),
      Seq("category"))
    assert(ids(bothWays(t)) == Seq(1, 5))
    // two columns, a null in one of them: (4, null) matches, (5, null) does not
    var u = cat.createTable("db", "nulls2", schema, props = morProps)
      .append(df(Row(1, "a", 1.0), Row(4, null, 4.0), Row(5, "c", 5.0)))
    u = u.addEqualityDeletes(
      keys("id" -> IntegerType, "category" -> StringType)(Row(4, null), Row(5, null)),
      Seq("id", "category"))
    assert(ids(bothWays(u)) == Seq(1, 5))
  }

  test("a two-column key matches only whole tuples") {
    val cat = freshCatalog()
    var t = cat.createTable("db", "pair", schema, props = morProps)
      .append(df(Row(1, "a", 1.0), Row(2, "a", 2.0), Row(1, "b", 3.0), Row(2, "b", 4.0)))
    t = t.addEqualityDeletes(
      keys("id" -> IntegerType, "category" -> StringType)(Row(1, "b"), Row(2, "x")),
      Seq("id", "category"))
    assert(bothWays(t).map(r => (r.getInt(0), r.getString(1))).sorted ==
      Seq((1, "a"), (2, "a"), (2, "b")))
  }

  test("two column sets on one table each hide their rows") {
    val cat = freshCatalog()
    var t = cat.createTable("db", "sets", schema, props = morProps)
      .append(df(Row(1, "a", 1.0), Row(2, "a", 2.0), Row(3, "b", 3.0), Row(4, "c", 4.0)))
    t = t.addEqualityDeletes(keys("id" -> IntegerType)(Row(1)), Seq("id"))
    t = t.addEqualityDeletes(keys("category" -> StringType)(Row("b")), Seq("category"))
    t = t.addEqualityDeletes(keys("id" -> IntegerType)(Row(4)), Seq("id"))
    assert(ids(bothWays(t)) == Seq(2))
  }

  test("a key re-inserted after its delete stays visible") {
    val cat = freshCatalog()
    var t = cat.createTable("db", "reins", schema, props = morProps)
      .append(df(Row(1, "a", 1.0), Row(2, "a", 2.0)))
    t = t.addEqualityDeletes(keys("id" -> IntegerType)(Row(1)), Seq("id"))
    t = t.append(df(Row(1, "a", 11.0)))
    val got = bothWays(t)
    assert(ids(got) == Seq(1, 2))
    assert(got.find(_.getInt(0) == 1).get.getDouble(2) == 11.0)
  }

  test("one key deleted at two sequences: the later delete hides the re-insert") {
    val cat = freshCatalog()
    var t = cat.createTable("db", "twice", schema, props = morProps)
      .append(df(Row(1, "a", 1.0), Row(2, "a", 2.0), Row(3, "a", 3.0)))
    t = t.addEqualityDeletes(keys("id" -> IntegerType)(Row(1), Row(2)), Seq("id"))
    t = t.append(df(Row(1, "b", 10.0), Row(2, "b", 20.0)))
    t = t.addEqualityDeletes(keys("id" -> IntegerType)(Row(1)), Seq("id"))
    t = t.append(df(Row(1, "c", 100.0)))
    assert(bothWays(t).map(r => (r.getInt(0), r.getString(1))).sorted ==
      Seq((1, "c"), (2, "b"), (3, "a")))
  }

  test("a renamed key column and a widened one (INT → BIGINT) across epochs") {
    val cat = freshCatalog()
    var t = cat.createTable("db", "evo", schema, props = morProps)
      .append(df(Row(1, "a", 1.0), Row(2, "b", 2.0), Row(3, "c", 3.0), Row(4, "d", 4.0)))
    // epoch 1: INT id, `category`
    t = t.addEqualityDeletes(keys("id" -> IntegerType)(Row(1)), Seq("id"))
    t = t.addEqualityDeletes(keys("category" -> StringType)(Row("b")), Seq("category"))
    t = t.widenColumn("id", LongType)
    t = t.renameColumn("category", "cat")
    // epoch 2: BIGINT id past the INT range, `cat`
    val wide = StructType(Seq(StructField("id", LongType),
      StructField("cat", StringType), StructField("amount", DoubleType)))
    t = t.append(rows(wide, Row(5000000000L, "e", 5.0), Row(6L, "f", 6.0), Row(1L, "a", 9.0)))
    t = t.addEqualityDeletes(keys("id" -> LongType)(Row(5000000000L), Row(3L)), Seq("id"))
    t = t.addEqualityDeletes(keys("cat" -> StringType)(Row("f")), Seq("cat"))
    val got = bothWays(t).map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got == Seq((1L, "a"), (4L, "d")))
  }

  test("a partitioned table with an initial-default column: deletes apply before the fill") {
    val cat = freshCatalog()
    var t = cat.createTable("db", "part", schema, Seq("category"), morProps)
      .append(df(Row(1, "a", 1.0), Row(2, "a", 2.0), Row(3, "b", 3.0)))
    t = t.addColumn("score", IntegerType, Some("7"))
    t = t.append(rows(t.schema, Row(4, "b", 4.0, 7), Row(5, "c", 5.0, 8)))
    t = t.addEqualityDeletes(keys("id" -> IntegerType)(Row(2), Row(5)), Seq("id"))
    // pre-column rows hold a physical null, read as 7 only after the
    // deletes: a delete on 7 hides the row that wrote 7, not those
    t = t.addEqualityDeletes(keys("score" -> IntegerType)(Row(7)), Seq("score"))
    val got = bothWays(t).map(r => (r.getInt(0), r.getAs[Int]("score"))).sorted
    assert(got == Seq((1, 7), (3, 7)))
  }

  test("a warehouse path with a space and %") {
    val cat = catalogAt(Files.createTempDirectory("graft eq%wh "))
    var t = cat.createTable("db", "odd", schema, Seq("category"), morProps)
      .append(df(Row(1, "a", 1.0), Row(2, "b", 2.0), Row(3, "b", 3.0)))
    t = t.addEqualityDeletes(keys("id" -> IntegerType)(Row(2)), Seq("id"))
    t = t.append(df(Row(2, "c", 20.0)))
    assert(bothWays(t).map(r => (r.getInt(0), r.getString(1))).sorted ==
      Seq((1, "a"), (2, "c"), (3, "b")))
  }

  test("floating-point keys match as the join's: NaN equals NaN, -0.0 equals 0.0") {
    val cat = freshCatalog()
    var t = cat.createTable("db", "fp", schema, props = morProps)
      .append(df(Row(1, "a", Double.NaN), Row(2, "a", -0.0), Row(3, "a", 0.0),
        Row(4, "a", 1.5), Row(5, "a", null)))
    t = t.addEqualityDeletes(keys("amount" -> DoubleType)(Row(Double.NaN), Row(0.0)),
      Seq("amount"))
    assert(ids(bothWays(t)) == Seq(4, 5))
  }

  test("a key written in another type than its column keeps the anti-join") {
    val cat = freshCatalog()
    var t = cat.createTable("db", "cast", schema, props = morProps)
      .append(df(Row(1, "a", 1.0), Row(2, "a", 2.0)))
    // the join compares INT data with these BIGINT keys as BIGINT, so
    // 4294967297 (1 once narrowed to INT) must not hide id 1
    t = t.addEqualityDeletes(keys("id" -> LongType)(Row(4294967297L), Row(2L)), Seq("id"))
    val plan = t.read().queryExecution.executedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size == 1, plan.take(800))
    assert(ids(t.read().collect().toSeq) == Seq(1))
  }
}
