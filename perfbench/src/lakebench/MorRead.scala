package lakebench

import org.apache.spark.sql.{Row, SparkSession}

import graft.lake.{LakeCatalog, LakeSql}

/** `mor_read`: the same live rows behind four delete layouts, read over
  * and over. Set-up builds, from one seeded lineitem, tables partitioned
  * by `months(l_shipdate)`:
  *   - `pos`: v2, [[DeleteCommits]] merge-on-read DELETEs as position
  *     deletes;
  *   - `dv`: v3 with `write.delete.format=dv`, the same DELETEs as
  *     deletion vectors;
  *   - `eq`: v2, the same rows removed by as many equality-delete
  *     commits through `LakeTable.addEqualityDeletes`;
  *   - `clean`: the live rows written once, with no delete files.
  * The timed loop is one closed-loop client cycling five read shapes
  * over the four tables through `LakeSql.run`. Every answer is checked
  * against the same statement over a plain-parquet replay of the
  * deletes, so the four tables must agree with each other and with it.
  */
object MorRead {
  val DeleteCommits = 2
  val Tables: Seq[String] = Seq("pos", "dv", "eq", "clean")
  val Shapes: Seq[String] = Seq("scan", "count", "agg", "join", "probe")

  def shapeSql(shape: String, table: String): String = shape match {
    case "scan" => s"SELECT ${Data.FingerprintSelect} FROM $table"
    case "count" => s"SELECT count(*) AS n FROM $table"
    case "agg" =>
      "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "sum(CAST(l_quantity AS DECIMAL(12,2))) AS q, " +
        "sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,2))) AS rev " +
        s"FROM $table WHERE l_shipdate >= DATE '1995-04-01' AND l_shipdate < DATE '1995-10-01' " +
        "GROUP BY l_returnflag, l_linestatus"
    case "join" =>
      "SELECT o.o_orderpriority, count(*) AS n, sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS q " +
        s"FROM $table l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "WHERE l.l_discount < 0.03 GROUP BY o.o_orderpriority"
    case "probe" => s"SELECT * FROM $table LIMIT 5"
  }

  private def tableDdl(name: String, props: String): String =
    s"CREATE TABLE $name (${Data.LineitemDdl}) PARTITIONED BY (months(l_shipdate)) " +
      s"TBLPROPERTIES ($props)"

  private val MorProps =
    "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read'"

  /** Registers `live`: the staged lineitem minus every deleted slice. */
  def replay(spark: SparkSession, deleted: Seq[Data.Slice]): Unit =
    spark.table("lineitem").filter(!deleted.map(_.column).reduce(_ || _))
      .createOrReplaceTempView("live")

  /** Builds the four tables in namespace `ns`. Expects the `lineitem`
    * and `live` views. */
  def build(sql: LakeSql, rec: Recorder, ns: String, deleted: Seq[Data.Slice]): Unit = {
    val tr = rec.trace
    val spark = sql.catalog.spark
    def run(span: String, s: String): Unit = tr(span)(tr("LakeSql.run")(sql.run(s).collect()))
    run("setup.create", tableDdl(s"$ns.pos", s"'format-version'='2', $MorProps"))
    run("setup.create", tableDdl(s"$ns.dv",
      s"'format-version'='3', 'write.delete.format'='dv', $MorProps"))
    run("setup.create", tableDdl(s"$ns.eq", s"'format-version'='2', $MorProps"))
    run("setup.create", tableDdl(s"$ns.clean", "'format-version'='2'"))
    for (t <- Seq("pos", "dv", "eq")) run("setup.insert", s"INSERT INTO $ns.$t SELECT * FROM lineitem")
    run("setup.insert", s"INSERT INTO $ns.clean SELECT * FROM live")
    for (s <- deleted) {
      run("setup.delete_pos", s"DELETE FROM $ns.pos WHERE ${s.sql}")
      run("setup.delete_dv", s"DELETE FROM $ns.dv WHERE ${s.sql}")
      tr("setup.delete_eq") {
        val eq = tr("LakeCatalog.loadTable")(sql.catalog.loadTable(ns, "eq").get)
        tr("LakeTable.addEqualityDeletes")(eq.addEqualityDeletes(
          spark.range(s.lo, s.hi).toDF("l_orderkey"), Seq("l_orderkey")))
      }
    }
  }

  private def answer(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def run(spark: SparkSession, catalog: LakeCatalog, rec: Recorder, cfg: Config): Unit = {
    val tr = rec.trace
    val sql = new LakeSql(catalog)
    val deleted = Data.slices(cfg.rows, cfg.sliceOrders, DeleteCommits, rec.seed)
    replay(spark, deleted)

    def drop(ns: String): Unit = catalog.listTables(ns).foreach(i => catalog.dropTable(ns, i.name))
    val expected = Shapes.filter(_ != "probe")
      .map(s => s -> answer(spark.sql(shapeSql(s, "live")).collect())).toMap
    val probes = scala.collection.mutable.ArrayBuffer.empty[Row]
    def round(ns: String, reads: Seq[(String, String)], measured: Boolean): Unit = {
      var roundMs = 0.0
      for ((shape, t) <- reads) {
        val label = s"read.$t.$shape"
        var d = 0.0; var p = 0.0
        def read(): Array[Row] = tr(s"read.$shape") {
          val a = System.nanoTime()
          val df = tr("LakeSql.run")(sql.run(shapeSql(shape, s"$ns.$t")))
          val b = System.nanoTime()
          tr("executedPlan")(df.queryExecution.executedPlan)
          val c = System.nanoTime()
          val out = tr("collect")(df.collect())
          d = (b - a) / 1e6; p = (c - b) / 1e6
          out
        }
        val (rows, ms) = if (measured) rec.op(spark, label)(read()) else (read(), 0.0)
        if (measured) {
          roundMs += ms
          rec.sample("op" -> "read", "table" -> t, "shape" -> shape, "ms" -> ms,
            "dispatch_ms" -> d, "plan_ms" -> p, "exec_ms" -> (ms - d - p),
            "engine_key" -> rec.lastOpKey(label))
          if (shape == "probe") {
            probes ++= rows
            rec.check(rows.length == 5 && rows.forall(r => !deleted.exists(_.contains(r.getLong(0)))),
              s"$label returned ${rows.length} rows or a deleted key")
          } else {
            val got = answer(rows)
            rec.check(got == expected(shape),
              s"$label: ${got.take(3).mkString(";")} != ${expected(shape).take(3).mkString(";")}")
          }
        }
      }
      // the round's reads only, not the checks between them
      if (measured) rec.sample("op" -> "cycle", "ms" -> roundMs)
    }
    val all = for (shape <- Shapes; t <- Tables) yield (shape, t)
    val warm = Tables.map(t => ("scan", t)) ++ Shapes.filter(_ != "scan").map(s => (s, "pos"))

    // set-up: the four tables, built cfg.setupReps times; the last is
    // read. The first build is also read once, untimed: every table
    // scanned and every shape on `pos`, so timed reads find the delete
    // paths and each shape's generated code compiled.
    var ns = ""
    for (rep <- 1 to cfg.setupReps) {
      if (ns.nonEmpty) drop(ns)
      ns = s"r$rep"
      tr.on = rec.traced
      val t0 = System.nanoTime()
      tr("setup")(build(sql, rec, ns, deleted))
      rec.setup((System.nanoTime() - t0) / 1e9)
      tr.on = false
      if (rep == 1) round(ns, warm, measured = false)
    }

    for (t <- Tables)
      rec.value(s"read.$t.delete_files", catalog.loadTable(ns, t).get.deleteFiles.size)
    rec.value("stored_bytes", Probe.bytesUnder(catalog.warehouse.resolve(ns)).toDouble)
    val deadline = System.nanoTime() + cfg.seconds * 1000000000L
    var n = 0
    // a traced run reads every statement at least twice, once traced and
    // once not, for the tracing overhead
    while (System.nanoTime() < deadline || n * all.size < cfg.minOps || (rec.traced && n < 2)) {
      round(ns, all, measured = true)
      n += 1
    }
    // every probed row must be a live row, value for value
    val probed = spark.createDataFrame(
      java.util.Arrays.asList(probes.distinct.toSeq: _*), spark.table("live").schema)
    val found = probed.intersect(spark.table("live")).count()
    rec.check(found == probes.distinct.size,
      s"${probes.distinct.size - found} probed rows are not live rows")
  }
}
