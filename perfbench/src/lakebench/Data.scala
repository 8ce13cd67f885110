package lakebench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. `lineitem` and `orders` follow the TPC-H-style
  * testdata's column names and value ranges, with three changes: shipdates
  * span the [[ShipDays]] days from 1995-01-02, so `months(l_shipdate)`
  * gives 13 partitions, `(l_orderkey, l_linenumber)` is unique and every
  * order has exactly [[LinesPerOrder]] lines; the last two make deletes
  * checkable. The seed fixes every
  * value; the row count fixes the volume, so runs with different seeds
  * do the same amount of work. */
object Data {
  val LinesPerOrder = 4
  val ShipDays = 365

  val LineitemCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  val LineitemDdl: String =
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate DATE"

  private def h(seed: Long, salt: Int): Column =
    xxhash64(col("id"), lit(seed), lit(salt))

  private def pick(seed: Long, salt: Int, vs: String*): Column =
    element_at(array(vs.map(lit): _*), (pmod(h(seed, salt), lit(vs.size.toLong)) + 1).cast("int"))

  def lineitem(spark: SparkSession, rows: Long, seed: Long): DataFrame =
    spark.range(rows).select(
      floor(col("id") / LinesPerOrder).as("l_orderkey"),
      pmod(h(seed, 1), lit(2000L)).as("l_partkey"),
      pmod(h(seed, 2), lit(100L)).as("l_suppkey"),
      (pmod(col("id"), lit(LinesPerOrder.toLong)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(seed, 3), lit(50L)) + 1).cast("double").as("l_quantity"),
      (lit(900.0) + pmod(h(seed, 4), lit(10410000L)) / 100.0).as("l_extendedprice"),
      (pmod(h(seed, 5), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(seed, 6), lit(9L)) / 100.0).as("l_tax"),
      pick(seed, 7, "A", "N", "R").as("l_returnflag"),
      pick(seed, 8, "F", "O").as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("1995-01-02")),
        pmod(h(seed, 9), lit(ShipDays.toLong)).cast("int")).as("l_shipdate"))

  def orders(spark: SparkSession, rows: Long, seed: Long): DataFrame =
    spark.range(rows).select(
      col("id").as("o_orderkey"),
      pmod(h(seed, 11), lit(1500L)).as("o_custkey"),
      pick(seed, 12, "F", "O", "P").as("o_orderstatus"),
      (lit(1000.0) + pmod(h(seed, 13), lit(50000000L)) / 100.0).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("1994-12-01")),
        pmod(h(seed, 14), lit(2500L)).cast("int")).as("o_orderdate"),
      pick(seed, 15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))

  /** Writes both tables as plain parquet under `dir` and registers them
    * as the temp views `lineitem` and `orders`. */
  def stage(spark: SparkSession, dir: Path, rows: Long, seed: Long): Unit = {
    val li = dir.resolve("lineitem").toString
    val od = dir.resolve("orders").toString
    lineitem(spark, rows, seed).write.mode("overwrite").parquet(li)
    orders(spark, rows / LinesPerOrder, seed).write.mode("overwrite").parquet(od)
    spark.read.parquet(li).createOrReplaceTempView("lineitem")
    spark.read.parquet(od).createOrReplaceTempView("orders")
  }

  /** A half-open range of order keys; deleting it removes whole orders. */
  final case class Slice(lo: Long, hi: Long) {
    def sql: String = s"l_orderkey >= $lo AND l_orderkey < $hi"
    def column: Column = col("l_orderkey") >= lo && col("l_orderkey") < hi
    def contains(k: Long): Boolean = k >= lo && k < hi
  }

  /** `n` distinct slices of `width` orders each, chosen by the seed from
    * the aligned blocks of the key space. Equal widths keep the deleted
    * volume the same for every seed. */
  def slices(rows: Long, width: Long, n: Int, seed: Long): Seq[Slice] = {
    val blocks = (rows / LinesPerOrder) / width
    require(blocks >= n, s"$n slices of $width orders need more than $rows rows")
    new scala.util.Random(seed).shuffle((0L until blocks).toVector).take(n)
      .map(b => Slice(b * width, (b + 1) * width))
  }

  /** Order-insensitive fingerprint of every column: (rows, sum of row
    * hashes). Used by the lake reads and by the replays they are
    * checked against, so both sides compute it the same way. */
  val FingerprintSelect: String =
    "count(*) AS n, sum(CAST(xxhash64(" + LineitemCols.mkString(", ") +
      ") AS DECIMAL(20,0))) AS h"
}
