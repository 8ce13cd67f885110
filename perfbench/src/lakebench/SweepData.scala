package lakebench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed inputs for `query_sweep`: the ten tables of the repository's
  * testdata, with its column names, types and value domains (TESTDATA.md),
  * generated from a fixed seed into one parquet directory per table. The
  * relational tables are a quarter of sf0.01's and the text and vector
  * tables sf0.001's, so a pass over the sweep's queries fits a one-minute
  * run. The values are fixed so
  * that each query's answer can be compared with a fingerprint recorded
  * from earlier code (`perfbench/sweep_fingerprints.json`). */
object SweepData {
  val Seed = 42L
  val LineitemRows = 15000L
  val OrdersRows = LineitemRows / 4
  val CustomerRows = OrdersRows / 10
  val SupplierRows = 25L
  val PartRows = 500L
  val EventRows = 2500L
  val DocumentRows = 500L
  val EmbeddingRows = 500L
  val EmbeddingDim = 64

  private val Words = Seq("the", "stream", "query", "row", "fast", "small", "spark",
    "group", "customer", "line", "sort", "hash", "batch", "dup", "data", "filter",
    "value", "big", "key", "order", "table", "scan", "merge", "part", "window",
    "join", "slow", "agg", "column", "a", "vector")

  private val Base = "id - if(id % 10 = 9, 1, 0)"

  private def h(salt: Int): Column = xxhash64(col("id"), lit(Seed), lit(salt))
  private def under(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
  private def pick(salt: Int, vs: Seq[String]): Column =
    element_at(array(vs.map(lit): _*), (under(salt, vs.size.toLong) + 1).cast("int"))
  private def money(salt: Int, lo: Double, hi: Double): Column =
    lit(lo) + under(salt, math.round((hi - lo) * 100)) / 100.0
  private def at(start: String, salt: Int, spanSeconds: Long): Column =
    timestamp_seconds(lit(java.time.Instant.parse(start).getEpochSecond) + under(salt, spanSeconds))
  private def days(start: String, salt: Int, n: Long): Column =
    date_add(lit(java.sql.Date.valueOf(start)), under(salt, n).cast("int")).cast("timestamp_ntz")
  private def padded(prefix: String): Column =
    concat(lit(prefix), lpad(col("id").cast("string"), 9, "0"))

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = Seq(
    "region" -> spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")),
    "nation" -> spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      pmod(col("id"), lit(5L)).cast("int").as("n_regionkey")),
    "customer" -> spark.range(CustomerRows).select(col("id").as("c_custkey"),
      padded("Customer#").as("c_name"), under(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")),
    "supplier" -> spark.range(SupplierRows).select(col("id").as("s_suppkey"),
      padded("Supplier#").as("s_name"), under(4, 25).cast("int").as("s_nationkey"),
      money(5, -999.99, 9999.99).as("s_acctbal")),
    "part" -> spark.range(PartRows).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("blue", "old", "small", "new", "cold", "large", "hot", "red")),
        pick(7, Seq("widget", "gizmo", "ring", "gear", "bolt", "rod", "anvil", "plate")))
        .as("p_name"),
      concat(lit("Brand#"), (under(8, 25) + 1).cast("string")).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (under(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(200L)) / 10.0).as("p_retailprice")),
    "orders" -> spark.range(OrdersRows).select(col("id").as("o_orderkey"),
      under(11, CustomerRows).as("o_custkey"), pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 1000.0, 500000.0).as("o_totalprice"),
      days("1995-01-01", 14, 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")),
    "lineitem" -> spark.range(LineitemRows).select(floor(col("id") / 4).as("l_orderkey"),
      under(16, PartRows).as("l_partkey"), under(17, SupplierRows).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (under(18, 50) + 1).cast("double").as("l_quantity"),
      money(19, 900.0, 105000.0).as("l_extendedprice"),
      (under(20, 11) / 100.0).as("l_discount"), (under(21, 9) / 100.0).as("l_tax"),
      pick(22, Seq("A", "N", "R")).as("l_returnflag"), pick(23, Seq("F", "O")).as("l_linestatus"),
      days("1995-01-02", 24, 2498).as("l_shipdate")),
    "events" -> spark.range(EventRows).select(col("id").as("event_id"),
      at("2024-01-01T00:00:00Z", 25, 30L * 86400).as("ts"), under(26, 40).as("user_id"),
      pick(27, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money(28, 0.03, 327.53).as("value"),
      concat(lit("{\"k\": "), under(29, 100).cast("string"), lit("}")).as("props")),
    "documents" -> spark.range(DocumentRows).select(col("id").as("doc_id"),
      // every tenth document repeats the one before it but for its first
      // word, so the near-duplicate queries have pairs to find
      expr(s"concat_ws(' ', transform(sequence(1, 8 + int(pmod(xxhash64($Base, $Seed, 30), 83))), " +
        s"i -> element_at(array(${Words.map(w => s"'$w'").mkString(", ")}), " +
        s"int(pmod(xxhash64(if(i = 1, id, $Base), i, $Seed, 31), ${Words.size})) + 1)))")
        .as("text"),
      pick(32, Seq("de", "en", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), under(33, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
    "embeddings" -> spark.range(EmbeddingRows).select(col("id").as("vec_id"),
      expr(s"transform(sequence(1, $EmbeddingDim), " +
        s"i -> float(pmod(xxhash64(id, i, $Seed, 34), 90000) / 100000.0 - 0.45))").as("embedding"),
      under(35, 10).cast("int").as("label")))

  /** Writes the tables into `dir` unless an earlier run did. They are
    * written beside it and moved in whole, so `dir` is either complete or
    * absent. */
  def ensure(spark: SparkSession, dir: Path): Unit =
    if (!Files.exists(dir)) {
      val tmp = dir.resolveSibling(dir.getFileName.toString + s".${ProcessHandle.current().pid()}")
      Files.createDirectories(tmp)
      write(spark, tmp)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }

  /** Writes every table as the single parquet file `<dir>/<name>.parquet`,
    * the layout `graft.Tables` reads (and `add_files` needs a file). */
  def write(spark: SparkSession, dir: Path): Unit =
    tables(spark).foreach { case (name, df) =>
      val tmp = dir.resolve(s"$name.tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
}
