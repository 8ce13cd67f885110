package graft.lake

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SparkSessionExtensions integration: native `lake.db.t` resolution in
  * spark.sql (Catalyst sees the MoR scan at the leaf) and the registered
  * `cosine_sim` SQL function (X1). */
class ExtensionsSpec extends SparkSpec {

  test("DSv2 catalog: native SELECT/DESCRIBE/SHOW over lake.db.t with MoR applied") {
    val wh = Files.createTempDirectory("graft-ext-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh)) // sets spark.graft.warehouse
    sql.run("""CREATE TABLE db.t (id INT, category STRING) TBLPROPERTIES (
      'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.t VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    sql.run("DELETE FROM db.t WHERE id = 2")

    // native multi-part reference, MoR deletes applied at the leaf
    val viaLake = spark.sql("SELECT COUNT(*) AS cnt FROM lake.db.t").head().getLong(0)
    assert(viaLake == 2)
    // the reference's own catalog spelling (upgrade_table.py:128)
    assert(spark.sql(
      "SELECT id FROM glue_catalog.db.t WHERE category = 'a' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    // joins/aggregations plan through Catalyst normally
    val joined = spark.sql(
      """SELECT a.id FROM lake.db.t a JOIN lake.db.t b ON a.category = b.category
         AND a.id < b.id""").collect()
    assert(joined.map(_.getInt(0)).toSeq == Seq(1))
    // catalog DDL surface
    assert(spark.sql("SHOW TABLES IN lake.db").collect().map(_.getString(1)).contains("t"))
    assert(spark.sql("DESCRIBE TABLE lake.db.t").collect()
      .map(_.getString(0)).toSet.intersect(Set("id", "category")).size == 2)
    spark.sql("CREATE TABLE lake.db.native_t (x INT) TBLPROPERTIES ('format-version'='2')")
    assert(sql.catalog.tableExists("db", "native_t"))
    spark.sql("ALTER TABLE lake.db.native_t SET TBLPROPERTIES ('format-version'='3')")
    assert(sql.catalog.loadTable("db", "native_t").get.meta.formatVersion == 3)
    spark.sql("DROP TABLE lake.db.native_t")
    assert(!sql.catalog.tableExists("db", "native_t"))
  }

  test("DSv2 catalog: INSERT INTO / INSERT OVERWRITE write natively") {
    val wh = Files.createTempDirectory("graft-w2-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.w (id INT, category STRING) PARTITIONED BY (category)")
    spark.sql("INSERT INTO lake.db.w VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO lake.db.w VALUES (3, 'a')")
    assert(spark.sql("SELECT id FROM lake.db.w ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // partition pruning still works over natively-written files
    assert(spark.sql("SELECT id FROM lake.db.w WHERE category = 'a' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    spark.sql("INSERT OVERWRITE lake.db.w VALUES (9, 'c')")
    assert(spark.sql("SELECT id FROM lake.db.w").collect()
      .map(_.getInt(0)).toSeq == Seq(9))
    // the replaced state remains time-travelable through the engine
    val t = sql.catalog.loadTable("db", "w").get
    assert(t.readSnapshot(2).count() == 3)
  }

  test("DSv2 catalog: VERSION AS OF and TIMESTAMP AS OF plan natively") {
    val wh = Files.createTempDirectory("graft-tt2-wh")
    var now = java.time.Instant.parse("2026-02-01T00:00:00Z").toEpochMilli
    val sql = new LakeSql(new LakeCatalog(spark, wh, () => { now += 60000L; now }))
    sql.run("CREATE TABLE db.ttn (id INT)")
    sql.run("INSERT INTO db.ttn VALUES (1)")
    sql.run("INSERT INTO db.ttn VALUES (2)")
    sql.run("DELETE FROM db.ttn WHERE id = 1")
    assert(spark.sql("SELECT id FROM lake.db.ttn").collect()
      .map(_.getInt(0)).toSeq == Seq(2))
    val snaps = sql.catalog.loadTable("db", "ttn").get
      .history().orderBy("snapshot_id").collect()
    val append2 = snaps(1).getLong(0)
    assert(spark.sql(s"SELECT id FROM lake.db.ttn VERSION AS OF $append2 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    val lit = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(snaps(1).getTimestamp(1).toInstant)
    assert(spark.sql(s"SELECT id FROM lake.db.ttn TIMESTAMP AS OF '$lit' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("SQL reads run the native plan: codegen'd parquet scan, no V1 row bridge") {
    val wh = Files.createTempDirectory("graft-native-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.n (id INT, category STRING) TBLPROPERTIES (
      'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.n VALUES (1, 'a'), (2, 'b'), (3, 'a'), (4, 'c')")
    sql.run("DELETE FROM db.n WHERE id = 2") // MoR anti-join must survive

    val df = spark.sql("SELECT id FROM lake.db.n WHERE category = 'a' ORDER BY id")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    val physical = df.queryExecution.executedPlan.toString
    // NativeReadRule spliced LakeTable.read()'s plan: vectorized parquet
    // scans inside whole-stage codegen (AQE renders codegen stages as
    // "*(n)" prefixes) instead of the row-converting V1 bridge
    // (VERDICT r5 #4), with the outer predicate pushed into the scan
    assert(physical.contains("*("), s"no codegen span:\n$physical")
    assert(physical.contains("FileScan parquet"), s"no native parquet scan:\n$physical")
    assert(physical.contains("PushedFilters: [IsNotNull(category), EqualTo(category,a)]"),
      s"filter did not reach the parquet scan:\n$physical")
    assert(!physical.contains("RowDataSourceScan"), s"V1 bridge leaked in:\n$physical")
    // and it is the same answer the bridge-free API path gives
    val api = sql.catalog.loadTable("db", "n").get.read()
      .filter(col("category") === "a").select("id").orderBy("id")
      .collect().map(_.getInt(0)).toSeq
    assert(api == Seq(1, 3))

    // time travel keeps the bridge (historical manifests replay verbatim)
    val tt = spark.sql("SELECT id FROM lake.db.n VERSION AS OF 1")
    assert(tt.collect().length == 4)

    // self-join: each relation substitutes independently — fresh exprIds
    // per splice, no ambiguous-attribute analysis failures
    val selfJoin = spark.sql(
      """SELECT a.id AS ai, b.id AS bi FROM lake.db.n a
         JOIN lake.db.n b ON a.category = b.category AND a.id < b.id
         ORDER BY ai, bi""").collect()
    assert(selfJoin.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 3)))

    // lake relation inside a subquery expression substitutes too
    val sub = spark.sql(
      """SELECT id FROM lake.db.n
         WHERE id IN (SELECT MAX(id) FROM lake.db.n WHERE category = 'a')""")
      .collect().map(_.getInt(0)).toSeq
    assert(sub == Seq(3))
  }

  test("native reads: date-partition pruning renders external values (no wrong prune)") {
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft-dp-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("d", DateType)))
    val t0 = cat.createTable("db", "dp", schema, partitionBy = Seq("d"))
    t0.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1, java.sql.Date.valueOf("2026-01-01")),
        org.apache.spark.sql.Row(2, java.sql.Date.valueOf("2026-02-01"))), 1),
      schema))
    spark.conf.set(LakeExtensions.WarehouseConf, wh.toString)
    // catalyst's internal DateType literal is an epoch-day Int — pruning
    // must compare the EXTERNAL "2026-01-01" path rendering, or the
    // matching partition itself gets pruned and the result is empty
    val got = spark.sql(
      "SELECT id FROM lake.db.dp WHERE d = DATE '2026-01-01'").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(1))
    // and the prune is real: vaporize the other partition's file — the
    // filtered query must succeed without touching it
    val t = cat.loadTable("db", "dp").get
    t.dataFiles.filter(_.partitionValues.get("d").contains("2026-02-01"))
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    assert(spark.sql("SELECT id FROM lake.db.dp WHERE d = DATE '2026-01-01'")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("native SQL path prunes partitions at the metadata level") {
    val wh = Files.createTempDirectory("graft-prune-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.p (id INT, category STRING) PARTITIONED BY (category)")
    sql.run("INSERT INTO db.p VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    // vaporize partition c's data files: a query that prunes on partition
    // values never touches them; an unpruned scan must fail
    val t = sql.catalog.loadTable("db", "p").get
    t.dataFiles.filter(_.partitionValues("category") == "c")
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    val pruned = spark.sql(
      "SELECT id FROM lake.db.p WHERE category = 'a'").collect()
    assert(pruned.map(_.getInt(0)).toSeq == Seq(1))
    val inList = spark.sql(
      "SELECT id FROM lake.db.p WHERE category IN ('a', 'b') ORDER BY id").collect()
    assert(inList.map(_.getInt(0)).toSeq == Seq(1, 2))
    // COUNT(*) is metadata-only since r10 (it would SUCCEED here); the
    // unpruned-scan probe must actually read rows
    assertThrows[Exception](spark.sql("SELECT SUM(id) FROM lake.db.p").head())
  }

  test("native SQL path skips files by min/max stats at the metadata level") {
    val wh = Files.createTempDirectory("graft-stats-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.s (id INT, v DOUBLE)")
    sql.run("INSERT INTO db.s VALUES (1, 1.0), (2, 2.0)")     // file: id ∈ [1, 2]
    sql.run("INSERT INTO db.s VALUES (10, 1.0), (11, 2.0)")   // file: id ∈ [10, 11]
    // vaporize the high-id file: a range query the stats exclude it from
    // must succeed without touching it; an unpruned scan must fail
    val t = sql.catalog.loadTable("db", "s").get
    t.dataFiles.filter(_.stats("id").min == "10")
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    assert(spark.sql("SELECT id FROM lake.db.s WHERE id < 5 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(spark.sql("SELECT id FROM lake.db.s WHERE id <= 2 AND id >= 1 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // COUNT(*) is metadata-only since r10 (it would SUCCEED here); the
    // unpruned-scan probe must actually read rows
    assertThrows[Exception](spark.sql("SELECT SUM(id) FROM lake.db.s").head())
  }

  test("DSv2 catalog: native DELETE FROM lands a MoR position-delete commit") {
    val wh = Files.createTempDirectory("graft-rld-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.rd (id INT, category STRING) TBLPROPERTIES (
      'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.rd VALUES (1, 'a'), (2, 'b'), (3, 'a'), (4, 'c')")
    val before = sql.catalog.loadTable("db", "rd").get

    spark.sql("DELETE FROM lake.db.rd WHERE category = 'a'")

    val after = sql.catalog.loadTable("db", "rd").get
    // one new MoR delete snapshot: data files untouched, position deletes added
    assert(after.meta.snapshots.size == before.meta.snapshots.size + 1)
    assert(after.meta.snapshots.last.operation == "delete")
    assert(after.dataFiles.map(_.path).toSet == before.dataFiles.map(_.path).toSet)
    assert(after.deleteFiles.nonEmpty)
    assert(after.deleteFiles.map(_.rowCount).sum == 2)
    assert(spark.sql("SELECT id FROM lake.db.rd ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 4))
    // the dispatcher reads the same state (one engine, two surfaces)
    assert(sql.run("SELECT id FROM db.rd ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 4))
    // deleting nothing commits nothing
    spark.sql("DELETE FROM lake.db.rd WHERE id = 99")
    assert(sql.catalog.loadTable("db", "rd").get.meta.snapshots.size
      == after.meta.snapshots.size)
  }

  test("DSv2 catalog: native UPDATE rewrites rows in one MoR commit, keeps v3 lineage") {
    val wh = Files.createTempDirectory("graft-rlu-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.ru (id INT, category STRING, amount DECIMAL(10,2))
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.ru VALUES (1, 'a', 10.25), (2, 'b', 20.75), (3, 'a', 30.25)")
    sql.run("ALTER TABLE db.ru SET TBLPROPERTIES ('format-version'='3')")
    val rowIdsBefore = sql.catalog.loadTable("db", "ru").get.readWithRowIds()
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap

    spark.sql("UPDATE lake.db.ru SET amount = amount * 2 WHERE category = 'a'")

    val after = sql.catalog.loadTable("db", "ru").get
    assert(after.meta.snapshots.last.operation == "update")
    assert(spark.sql("SELECT id, amount FROM lake.db.ru ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toPlainString).toSeq
      == Seq(1 -> "20.50", 2 -> "20.75", 3 -> "60.50"))
    // v3 row lineage: updated rows keep their _row_id (M1 contract)
    val rowIdsAfter = after.readWithRowIds()
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(rowIdsAfter == rowIdsBefore,
      s"lineage broke: before=$rowIdsBefore after=$rowIdsAfter")
    // dispatcher DML composes with natively-updated state on one table
    sql.run("DELETE FROM db.ru WHERE id = 2")
    assert(spark.sql("SELECT COUNT(*) AS c FROM lake.db.ru").head().getLong(0) == 2)
  }

  test("DSv2 catalog: native MERGE INTO upserts (delete+insert deltas, minted v3 ids)") {
    val wh = Files.createTempDirectory("graft-rlm-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.rm (id INT, amount DECIMAL(10,2))
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.rm VALUES (1, 10.25), (2, 20.75)")
    sql.run("ALTER TABLE db.rm SET TBLPROPERTIES ('format-version'='3')")
    val nextBefore = sql.catalog.loadTable("db", "rm").get.meta.nextRowId

    spark.sql("CREATE TABLE lake.db.rmsrc (id INT, amount DECIMAL(10,2))")
    spark.sql("INSERT INTO lake.db.rmsrc VALUES (2, 99.25), (9, 5.75)")
    spark.sql("""MERGE INTO lake.db.rm t USING lake.db.rmsrc s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET amount = s.amount
      WHEN NOT MATCHED THEN INSERT (id, amount) VALUES (s.id, s.amount)""")

    val after = sql.catalog.loadTable("db", "rm").get
    assert(after.meta.snapshots.last.operation == "merge")
    assert(spark.sql("SELECT id, amount FROM lake.db.rm ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toPlainString).toSeq
      == Seq(1 -> "10.25", 2 -> "99.25", 9 -> "5.75"))
    // inserted rows minted fresh lineage ids past the old high-water mark
    assert(after.meta.nextRowId > nextBefore)
    val ids = after.readWithRowIds().collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(ids.values.toSet.size == 3, s"duplicate _row_id in $ids")
    assert(ids(9) >= nextBefore, s"insert reused an old id range: $ids")
  }

  test("tag DDL: CREATE/DROP TAG pin snapshots and read via VERSION AS OF") {
    val wh = Files.createTempDirectory("graft-tag-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.tg (id INT)")
    sql.run("INSERT INTO db.tg VALUES (1)")
    sql.run("ALTER TABLE db.tg CREATE TAG v1") // defaults to current snapshot
    sql.run("INSERT INTO db.tg VALUES (2)")
    sql.run("ALTER TABLE db.tg CREATE TAG v2 AS OF VERSION 2")
    // tags read on both surfaces
    assert(sql.run("SELECT * FROM db.tg VERSION AS OF 'v1'").count() == 1)
    assert(spark.sql("SELECT * FROM lake.db.tg VERSION AS OF 'v2'").count() == 2)
    // tagged snapshots survive expiry (protection already unit-tested);
    // DROP TAG releases the pin
    sql.run("ALTER TABLE db.tg DROP TAG v1")
    assert(sql.catalog.loadTable("db", "tg").get.meta.tags.keySet == Set("v2"))
    intercept[Exception](sql.run("SELECT * FROM db.tg VERSION AS OF 'v1'"))
  }

  test("DESCRIBE EXTENDED reports the operational detail block") {
    val wh = Files.createTempDirectory("graft-dx-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.dx (id INT, category STRING)
      PARTITIONED BY (category)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.dx VALUES (1, 'a'), (2, 'b')")
    sql.run("DELETE FROM db.dx WHERE id = 1")
    val d = sql.run("DESCRIBE EXTENDED db.dx").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("id") == "int" && d("category") == "string")
    assert(d("# format_version") == "2")
    assert(d("# snapshot_count") == "2") // insert + delete commits
    assert(d("# data_file_count").toInt >= 1)
    assert(d("# delete_file_count") == "1")
    assert(d("# partitioning") == "category")
    assert(d("# properties").contains("write.delete.mode=merge-on-read"))
    assert(d("# row_count_upper_bound") == "2") // pre-delete footer rows
    // plain DESCRIBE stays schema-only
    assert(!sql.run("DESCRIBE db.dx").collect()
      .exists(_.getString(0).startsWith("# format")))
  }

  test("column-list INSERT binds by name and fills write-defaults") {
    val wh = Files.createTempDirectory("graft-cli-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.cl (id INT, name STRING, score DOUBLE)")
    sql.run("ALTER TABLE db.cl ADD COLUMN tag STRING DEFAULT 'untagged'")
    // listed columns bind positionally BY NAME (reordered here); score is
    // unlisted → NULL; tag is unlisted → its write-default
    sql.run("INSERT INTO db.cl (name, id) VALUES ('a', 1), ('b', 2)")
    val got = sql.run("SELECT * FROM db.cl ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.get(2)), r.getString(3)))
    assert(got.toSeq == Seq(
      (1, "a", None, "untagged"), (2, "b", None, "untagged")))
    // arity and unknown-column errors stay loud
    intercept[SqlParseException](
      sql.run("INSERT INTO db.cl (id) VALUES (1, 'x')"))
    intercept[SqlParseException](
      sql.run("INSERT INTO db.cl (nope) VALUES (1)"))
    intercept[SqlParseException](
      sql.run("INSERT INTO db.cl (id, id) VALUES (1, 2)"))
    // full-arity inserts unchanged
    sql.run("INSERT INTO db.cl VALUES (3, 'c', 1.5, 't3')")
    assert(sql.run("SELECT COUNT(*) AS n FROM db.cl").head().getLong(0) == 3)
  }

  test("COUNT(*) answers from metadata: zero-scan plan, exact under " +
    "position deletes, fallback under equality deletes") {
    val wh = Files.createTempDirectory("graft-cnt-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.cnt (id INT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.cnt VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    sql.run("DELETE FROM db.cnt WHERE id IN (2, 4)") // MoR position deletes
    val q = spark.sql("SELECT COUNT(*) AS n FROM lake.db.cnt")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"),
      s"count must be metadata-only:\n${plan.take(600)}")
    assert(!plan.contains("parquet"), "count plan must not scan files")
    assert(q.head().getLong(0) == 2L)
    // a filter disqualifies the shortcut: the filtered count scans
    val qf = spark.sql("SELECT COUNT(*) AS n FROM lake.db.cnt WHERE id > 1")
    assert(!qf.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(qf.head().getLong(0) == 1L)
    // equality deletes make the metadata count unknowable → scan, exact
    val t = sql.catalog.loadTable("db", "cnt").get
    t.upsertByKey(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(3, "c2"),
        org.apache.spark.sql.Row(9, "z")), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))), Seq("id"))
    val qe = spark.sql("SELECT COUNT(*) AS n FROM lake.db.cnt")
    assert(qe.queryExecution.executedPlan.toString.contains("FileScan parquet"),
      "equality deletes must force a real scan")
    assert(qe.head().getLong(0) == 3L) // 1, 3(updated), 9
  }

  test("MIN/MAX answer from footer bounds on delete-free tables and " +
    "fall back the moment any delete lands") {
    val wh = Files.createTempDirectory("graft-mm2-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.mx (id INT, v STRING, ts TIMESTAMP)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.mx VALUES " +
      "(5, 'a', TIMESTAMP '2026-01-01 00:00:00'), " +
      "(2, 'b', TIMESTAMP '2026-03-01 00:00:00')")
    sql.run("INSERT INTO db.mx VALUES " +
      "(9, 'c', TIMESTAMP '2026-02-01 00:00:00')")
    val q = spark.sql(
      "SELECT COUNT(*) AS n, MIN(id) AS lo, MAX(id) AS hi, MAX(ts) AS mts " +
        "FROM lake.db.mx")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("parquet"),
      s"delete-free min/max must be metadata-only:\n${plan.take(500)}")
    val r = q.head()
    assert(r.getLong(0) == 3L && r.getInt(1) == 2 && r.getInt(2) == 9)
    assert(r.getTimestamp(3).toInstant.toString == "2026-03-01T00:00:00Z")
    // a STRING max can be footer-truncated: never metadata-served
    assert(spark.sql("SELECT MAX(v) AS m FROM lake.db.mx")
      .queryExecution.executedPlan.toString.contains("parquet"))
    // one position delete and the extremum may be gone: min/max scan
    // again (and stay correct), while COUNT alone stays metadata-exact
    sql.run("DELETE FROM db.mx WHERE id = 9")
    val q2 = spark.sql("SELECT MIN(id) AS lo, MAX(id) AS hi FROM lake.db.mx")
    assert(q2.queryExecution.executedPlan.toString.contains("parquet"),
      "post-delete min/max must rescan")
    val r2 = q2.head()
    assert(r2.getInt(0) == 2 && r2.getInt(1) == 5)
    val q3 = spark.sql("SELECT COUNT(*) AS n FROM lake.db.mx")
    assert(q3.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(q3.head().getLong(0) == 2L)
  }

  test("native MERGE honors multiple conditional clauses (Spark's own " +
    "MergeRows planning over the delta write)") {
    val wh = Files.createTempDirectory("graft-rlmc-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.rmc (id INT, amount DECIMAL(10,2))
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.rmc VALUES (1, 10.25), (2, 20.75), (3, 30.25)")
    spark.sql("CREATE TABLE lake.db.rmcsrc (id INT, amount DECIMAL(10,2))")
    spark.sql(
      "INSERT INTO lake.db.rmcsrc VALUES (1, 5.25), (2, 99.25), (9, 7.75)")
    // clause order is load-bearing: id 1's source (5.25 < 10) deletes,
    // id 2 updates, id 3 is matched by nothing and stays untouched,
    // id 9 inserts conditionally
    spark.sql("""MERGE INTO lake.db.rmc t USING lake.db.rmcsrc s ON t.id = s.id
      WHEN MATCHED AND s.amount < 10 THEN DELETE
      WHEN MATCHED THEN UPDATE SET amount = s.amount
      WHEN NOT MATCHED AND s.amount > 5 THEN
        INSERT (id, amount) VALUES (s.id, s.amount)""")
    assert(spark.sql("SELECT id, amount FROM lake.db.rmc ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toPlainString).toSeq
      == Seq(2 -> "99.25", 3 -> "30.25", 9 -> "7.75"))
  }

  test("engine mergeClauses on copy-on-write: multi-clause swap, no " +
    "delete files, untouched matched rows survive") {
    import org.apache.spark.sql.functions.{col, expr}
    val wh = Files.createTempDirectory("graft-cowmc-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("amount",
        org.apache.spark.sql.types.DoubleType)))
    def rows(rs: (Int, Double)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rs.map { case (i, a) => org.apache.spark.sql.Row(i, a) }, 1), schema)
    val t0 = cat.createTable("db", "cmc", schema) // CoW by default
      .append(rows((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)))
    val t1 = t0.mergeClauses(
      rows((1, 1.0), (2, 99.0), (3, 0.0), (4, 30.0), (8, 8.0)),
      expr("t.id = s.id"),
      Seq(
        MergeWhenMatched(Some(expr("s.amount < 5")), MergeMatched.Delete),
        MergeWhenMatched(Some(expr("s.amount > 50")),
          MergeMatched.Update(Map("amount" -> col("s.amount"))))),
      Some(MergeWhenNotMatched(Some(expr("s.id > 5")), None)))
    // 1,3 deleted (<5); 2 updated (>50); 4 MATCHED but fires no clause
    // (30 is neither <5 nor >50) and must survive untouched;
    // 8 inserted; and CoW must mint zero delete files
    assert(t1.deleteFiles.isEmpty, "CoW merge minted delete files")
    assert(t1.read().collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).toSeq == Seq((2, 99.0), (4, 40.0), (8, 8.0)))
  }

  test("DSv2 catalog: native CoW DELETE rewrites groups, mints NO delete file") {
    val wh = Files.createTempDirectory("graft-cowd-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.cd (id INT, category STRING)") // CoW by default
    sql.run("INSERT INTO db.cd VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    sql.run("INSERT INTO db.cd VALUES (10, 'x'), (11, 'y')")
    val before = sql.catalog.loadTable("db", "cd").get
    // the tiny VALUES inserts split one file per row: 3 + 2
    assert(before.dataFiles.size == 5)

    spark.sql("DELETE FROM lake.db.cd WHERE category = 'a'")

    val after = sql.catalog.loadTable("db", "cd").get
    assert(after.meta.snapshots.last.operation == "delete")
    // the CoW contract: no delete files, ever — strict v2 readers work
    assert(after.deleteFiles.isEmpty)
    assert(after.read(strict = true).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(2, 10, 11))
    // group scope: files whose category stats exclude 'a' (the b/x/y
    // rows) were never rewritten — their paths survive verbatim
    val beforePaths = before.dataFiles.map(_.path).toSet
    val afterPaths = after.dataFiles.map(_.path).toSet
    assert(afterPaths.intersect(beforePaths).size == 3,
      s"stats-pruned files should be carried over: $beforePaths -> $afterPaths")
    // both SQL surfaces read the same state
    assert(sql.run("SELECT id FROM db.cd ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 10, 11))
    // a DELETE that matches nothing commits nothing (and rewrites nothing)
    spark.sql("DELETE FROM lake.db.cd WHERE category = 'zzz'")
    val noop = sql.catalog.loadTable("db", "cd").get
    assert(noop.meta.snapshots.size == after.meta.snapshots.size,
      "no-match CoW DELETE must not commit")
    assert(noop.dataFiles.map(_.path).toSet == afterPaths)
  }

  test("DSv2 catalog: native CoW UPDATE preserves v3 lineage, no delete files") {
    val wh = Files.createTempDirectory("graft-cowu-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.cu (id INT, category STRING, amount DECIMAL(10,2))")
    sql.run("INSERT INTO db.cu VALUES (1, 'a', 10.25), (2, 'b', 20.75), (3, 'a', 30.25)")
    sql.run("ALTER TABLE db.cu SET TBLPROPERTIES ('format-version'='3')")
    val rowIdsBefore = sql.catalog.loadTable("db", "cu").get.readWithRowIds()
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap

    spark.sql("UPDATE lake.db.cu SET amount = amount * 2 WHERE category = 'a'")

    val after = sql.catalog.loadTable("db", "cu").get
    assert(after.meta.snapshots.last.operation == "update")
    assert(after.deleteFiles.isEmpty)
    assert(spark.sql("SELECT id, amount FROM lake.db.cu ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toPlainString).toSeq
      == Seq(1 -> "20.50", 2 -> "20.75", 3 -> "60.50"))
    // v3 lineage: EVERY row of the rewritten group (updated AND untouched
    // survivors) keeps its _row_id — the CoW copy preserves lineage
    val rowIdsAfter = after.readWithRowIds()
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(rowIdsAfter == rowIdsBefore,
      s"lineage broke: before=$rowIdsBefore after=$rowIdsAfter")
  }

  test("DSv2 catalog: native CoW MERGE upserts; inserts mint fresh v3 ids") {
    val wh = Files.createTempDirectory("graft-cowm-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.cm (id INT, amount DECIMAL(10,2))")
    sql.run("INSERT INTO db.cm VALUES (1, 10.25), (2, 20.75)")
    sql.run("ALTER TABLE db.cm SET TBLPROPERTIES ('format-version'='3')")
    val nextBefore = sql.catalog.loadTable("db", "cm").get.meta.nextRowId

    spark.sql("CREATE TABLE lake.db.cmsrc (id INT, amount DECIMAL(10,2))")
    spark.sql("INSERT INTO lake.db.cmsrc VALUES (2, 99.25), (9, 5.75)")
    spark.sql("""MERGE INTO lake.db.cm t USING lake.db.cmsrc s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET amount = s.amount
      WHEN NOT MATCHED THEN INSERT (id, amount) VALUES (s.id, s.amount)""")

    val after = sql.catalog.loadTable("db", "cm").get
    assert(after.meta.snapshots.last.operation == "merge")
    assert(after.deleteFiles.isEmpty)
    assert(spark.sql("SELECT id, amount FROM lake.db.cm ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toPlainString).toSeq
      == Seq(1 -> "10.25", 2 -> "99.25", 9 -> "5.75"))
    assert(after.meta.nextRowId > nextBefore)
    val ids = after.readWithRowIds().collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(ids.values.toSet.size == 3, s"duplicate _row_id in $ids")
    assert(ids(9) >= nextBefore, s"insert reused an old id range: $ids")
    // matched + survivor rows kept their original ids
    assert(ids(1) < nextBefore && ids(2) < nextBefore,
      s"rewritten rows must keep lineage: $ids")
  }

  test("CoW group scope is exact: only files CONTAINING matches are rewritten, " +
    "even when footer stats cannot bound the condition") {
    val wh = Files.createTempDirectory("graft-cows-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.cs (id INT, name STRING)")
    sql.run("INSERT INTO db.cs VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma')")
    val before = sql.catalog.loadTable("db", "cs").get
    assert(before.dataFiles.size == 3) // one file per VALUES row

    // LIKE '%ta' has no source-filter translation: min/max stats cannot
    // bound it, so without matched-file discovery all 3 files would be
    // rewritten. Discovery scopes the swap to the one matching file.
    spark.sql("DELETE FROM lake.db.cs WHERE name LIKE '%ta'")

    val after = sql.catalog.loadTable("db", "cs").get
    assert(spark.sql("SELECT id FROM lake.db.cs ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    val survivors = after.dataFiles.map(_.path).toSet
    val beforePaths = before.dataFiles.map(_.path).toSet
    assert(survivors.subsetOf(beforePaths) && survivors.size == 2,
      s"non-matching files must be carried over untouched: " +
        s"$beforePaths -> $survivors")
    // an UPDATE matching nothing discovers an empty scope → no commit
    spark.sql("UPDATE lake.db.cs SET name = 'x' WHERE name LIKE '%zzz'")
    assert(sql.catalog.loadTable("db", "cs").get.meta.snapshots.size
      == after.meta.snapshots.size, "no-match CoW UPDATE must not commit")
  }

  test("CoW partition-only DELETE: metadata scope alone is exact — other " +
    "partitions' files carried over byte-identical (discovery skipped)") {
    val wh = Files.createTempDirectory("graft-cowm-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.po (id INT, category STRING)
      PARTITIONED BY (category)""")
    sql.run("INSERT INTO db.po VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'a')")
    val before = sql.catalog.loadTable("db", "po").get.dataFiles
    val keepPaths = before.filterNot(
      _.partitionValues.get("category").contains("a")).map(_.path).toSet

    // every usable conjunct references only the partition column, so the
    // scope predicate is decidable from partition values with zero I/O —
    // matched-file discovery is skipped and must not be needed for
    // exactness: partitions b and c survive as the SAME files
    spark.sql("DELETE FROM lake.db.po WHERE category = 'a'")

    val after = sql.catalog.loadTable("db", "po").get
    assert(after.dataFiles.map(_.path).toSet == keepPaths,
      "non-matching partitions must carry over untouched; matching " +
        "partition files must not survive")
    assert(spark.sql("SELECT id FROM lake.db.po ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3))
  }

  test("native partition DELETE is metadata-only via SupportsDelete: no " +
    "delta writers, no delete files, whole files drop") {
    val wh = Files.createTempDirectory("graft-mdel-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.mdel (id INT, category STRING)
      PARTITIONED BY (category) TBLPROPERTIES (
      'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.mdel VALUES (1, 'a'), (2, 'b'), (3, 'b'), (4, 'c')")
    val before = sql.catalog.loadTable("db", "mdel").get
    val keepPaths = before.dataFiles
      .filterNot(_.partitionValues.get("category").contains("b")).map(_.path).toSet

    // Spark's OptimizeMetadataOnlyDeleteFromTable converts the row-level
    // plan to a filter delete when canDeleteWhere proves whole files
    spark.sql("DELETE FROM lake.db.mdel WHERE category = 'b'")

    val after = sql.catalog.loadTable("db", "mdel").get
    assert(after.meta.snapshots.last.summary.get("metadata-delete").contains("true"),
      "partition-covering native DELETE must take the metadata path")
    assert(after.deleteFiles.isEmpty,
      "metadata path on a MoR table must mint no delete files")
    assert(after.dataFiles.map(_.path).toSet == keepPaths)
    assert(spark.sql("SELECT id FROM lake.db.mdel ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 4))

    // a non-partition conjunct keeps the row-level path (position deletes)
    spark.sql("DELETE FROM lake.db.mdel WHERE category = 'a' AND id = 1")
    val after2 = sql.catalog.loadTable("db", "mdel").get
    assert(!after2.meta.snapshots.last.summary.get("metadata-delete").contains("true"))
    assert(after2.deleteFiles.nonEmpty)
    assert(spark.sql("SELECT id FROM lake.db.mdel").collect()
      .map(_.getInt(0)).toSeq == Seq(4))
  }

  test("dynamic partition overwrite replaces only touched partitions on " +
    "both SQL surfaces; static mode still replaces everything") {
    val wh = Files.createTempDirectory("graft-dyn-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.dyn (id INT, category STRING)
      PARTITIONED BY (category)""")
    sql.run("INSERT INTO db.dyn VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val before = sql.catalog.loadTable("db", "dyn").get
    val untouched = before.dataFiles
      .filterNot(_.partitionValues.get("category").contains("b")).map(_.path).toSet

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // dispatcher surface: only partition b is replaced
      sql.run("INSERT OVERWRITE db.dyn VALUES (20, 'b'), (21, 'b')")
      val t1 = sql.catalog.loadTable("db", "dyn").get
      assert(t1.meta.snapshots.last.summary.get("dynamic-overwrite").contains("true"))
      assert(untouched.subsetOf(t1.dataFiles.map(_.path).toSet),
        "untouched partitions must carry over byte-identical")
      assert(sql.run("SELECT id FROM db.dyn ORDER BY id").collect()
        .map(_.getInt(0)).toSeq == Seq(1, 3, 20, 21))

      // the native surface rides the V1 write bridge, which has no
      // dynamic-overwrite exec — Spark refuses with its standard
      // unsupported error instead of silently doing a static replace
      val ex = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("INSERT OVERWRITE lake.db.dyn VALUES (30, 'c')")
      }
      assert(ex.getMessage.contains("dynamic overwrite"))
      // the engine API serves the same semantics directly
      val t2 = sql.catalog.loadTable("db", "dyn").get
        .overwriteDynamic(spark.sql("SELECT 30 AS id, 'c' AS category"))
      assert(t2.meta.snapshots.last.summary.get("dynamic-overwrite").contains("true"))
      assert(sql.run("SELECT id FROM db.dyn ORDER BY id").collect()
        .map(_.getInt(0)).toSeq == Seq(1, 20, 21, 30))

      // prior state stays time-travelable
      assert(sql.run(s"SELECT id FROM db.dyn VERSION AS OF " +
        s"${before.currentSnapshot.get.id} ORDER BY id").collect()
        .map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")

    // static (default) replaces the whole table
    sql.run("INSERT OVERWRITE db.dyn VALUES (40, 'z')")
    assert(sql.run("SELECT id FROM db.dyn").collect()
      .map(_.getInt(0)).toSeq == Seq(40))
  }

  test("dynamic overwrite across partition-spec evolution: possibly-" +
    "overlapping old-spec files fail loudly; provably-disjoint ones are " +
    "kept (ADVICE r8: silent keep would duplicate the replaced partition)") {
    val wh = Files.createTempDirectory("graft-dynev-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))

    // case 1: file written while UNpartitioned (no recorded values) may
    // hold rows of any partition → a later dynamic overwrite must refuse
    sql.run("CREATE TABLE db.ev1 (id INT, category STRING)")
    sql.run("INSERT INTO db.ev1 VALUES (1, 'a'), (2, 'b')")
    sql.run("ALTER TABLE db.ev1 ADD PARTITION FIELD category")
    val ex = intercept[IllegalStateException] {
      sql.catalog.loadTable("db", "ev1").get
        .overwriteDynamic(spark.sql("SELECT 20 AS id, 'b' AS category"))
    }
    assert(ex.getMessage.contains("rewrite_data_files"),
      s"refusal must carry the remediation hint, got: ${ex.getMessage}")
    assert(sql.run("SELECT id FROM db.ev1 ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2), "refused overwrite must not commit")

    // case 2: old-spec file SHARES the identity key and its value differs
    // from every touched tuple → provably untouched, overwrite proceeds
    sql.run("""CREATE TABLE db.ev2 (id INT, category STRING)
      PARTITIONED BY (category)""")
    sql.run("INSERT INTO db.ev2 VALUES (1, 'a')")
    sql.run("ALTER TABLE db.ev2 ADD PARTITION FIELD bucket(4, id)")
    val t2 = sql.catalog.loadTable("db", "ev2").get
      .overwriteDynamic(spark.sql("SELECT 20 AS id, 'b' AS category"))
    assert(t2.meta.snapshots.last.summary.get("dynamic-overwrite").contains("true"))
    assert(sql.run("SELECT id FROM db.ev2 ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 20),
      "category-a old-spec file is provably outside the replaced partition")

    // …but the same evolved table refuses when the overwrite touches the
    // old file's own partition value (proof fails on the shared key)
    val ex2 = intercept[IllegalStateException] {
      sql.catalog.loadTable("db", "ev2").get
        .overwriteDynamic(spark.sql("SELECT 30 AS id, 'a' AS category"))
    }
    assert(ex2.getMessage.contains("earlier partition spec"))
  }

  test("DSv2 catalog: mixed write modes — MoR UPDATE deltas compose with CoW DELETE swaps") {
    val wh = Files.createTempDirectory("graft-mix-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    // per-command modes are independent (Iceberg semantics): updates
    // write MoR deltas, deletes rewrite copy-on-write
    sql.run("""CREATE TABLE db.mx (id INT, category STRING, amount DECIMAL(10,2))
      TBLPROPERTIES ('write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.mx VALUES (1, 'a', 1.25), (2, 'b', 2.25), (3, 'a', 3.25)")

    spark.sql("UPDATE lake.db.mx SET amount = amount + 1 WHERE category = 'a'")
    val afterUpd = sql.catalog.loadTable("db", "mx").get
    assert(afterUpd.deleteFiles.nonEmpty, "MoR update must write deltas")

    // CoW DELETE over a table that currently carries delete files: the
    // group swap must apply the MoR deltas while rewriting (live rows
    // only) and must not disturb the remaining delete files' semantics
    spark.sql("DELETE FROM lake.db.mx WHERE id = 1")
    val afterDel = sql.catalog.loadTable("db", "mx").get
    assert(afterDel.meta.snapshots.last.operation == "delete")
    assert(spark.sql("SELECT id, amount FROM lake.db.mx ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toPlainString).toSeq
      == Seq(2 -> "2.25", 3 -> "4.25"))
    // dispatcher surface agrees
    assert(sql.run("SELECT id FROM db.mx ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3))
  }

  test("DSv2 catalog: native CoW DML on a partitioned table records partition values") {
    val wh = Files.createTempDirectory("graft-cowp-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.cp (id INT, category STRING, amount DECIMAL(10,2))
      PARTITIONED BY (category)""")
    sql.run("INSERT INTO db.cp VALUES (1, 'a', 1.25), (2, 'b', 2.25), " +
      "(3, 'a', 3.25), (4, 'c', 4.25)")

    spark.sql("UPDATE lake.db.cp SET amount = amount + 1 WHERE id <= 3")

    val t = sql.catalog.loadTable("db", "cp").get
    assert(t.deleteFiles.isEmpty)
    // CoW-rewritten files are partition-split and record their values,
    // so partition pruning needs no rewrite_data_files to recover
    assert(t.dataFiles.forall(_.partitionValues.contains("category")),
      s"every live file must carry partition values: ${t.dataFiles}")
    assert(spark.sql("SELECT id, amount FROM lake.db.cp ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toPlainString).toSeq
      == Seq(1 -> "2.25", 2 -> "3.25", 3 -> "4.25", 4 -> "4.25"))
  }

  test("DSv2 catalog: native DML on a partitioned table — correct state, exact pruning") {
    val wh = Files.createTempDirectory("graft-rlp-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.rp (id INT, category STRING, amount DECIMAL(10,2))
      PARTITIONED BY (category)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.rp VALUES (1, 'a', 1.25), (2, 'b', 2.25), " +
      "(3, 'a', 3.25), (4, 'c', 4.25)")
    LakeV2Table.lastPushedFilters = Nil
    spark.sql("DELETE FROM lake.db.rp WHERE category = 'a' AND id = 1")
    // the DML condition must reach the scan's pushdown layer (partition
    // + stats file pruning), not merely filter above it
    assert(LakeV2Table.lastPushedFilters.exists(_.contains("category")),
      s"DELETE pushed nothing: ${LakeV2Table.lastPushedFilters}")
    val beforeUpd = sql.catalog.loadTable("db", "rp").get.dataFiles.map(_.path).toSet
    spark.sql("UPDATE lake.db.rp SET amount = amount + 1 WHERE category = 'b'")
    assert(spark.sql("SELECT id, amount FROM lake.db.rp ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toPlainString).toSeq
      == Seq(2 -> "3.25", 3 -> "3.25", 4 -> "4.25"))
    // the delta-written rewrite files carry REAL partition values
    // (partition-split writers, VERDICT r6 next #3): pruning stays exact
    // over the updated region without a rewrite_data_files first
    val updFiles = sql.catalog.loadTable("db", "rp").get.dataFiles
      .filterNot(f => beforeUpd.contains(f.path))
    assert(updFiles.nonEmpty)
    assert(updFiles.forall(_.partitionValues.get("category").contains("b")),
      s"update-written files must record their partition: $updFiles")
    assert(spark.sql("SELECT id FROM lake.db.rp WHERE category = 'c'").collect()
      .map(_.getInt(0)).toSeq == Seq(4))
    val t = sql.catalog.loadTable("db", "rp").get
    // the delete coords only ever reference files of the matched partitions
    val touched = t.deleteFiles.map(_.path)
    assert(touched.nonEmpty)
    val delTargets = spark.read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType))))
      .parquet(touched: _*).select("file_path").distinct()
      .collect().map(_.getString(0)).toSet
    val byPartition = t.dataFiles.filter(f =>
      f.partitionValues.get("category").exists(Set("a", "b"))).map(_.path).toSet
    assert(delTargets.subsetOf(byPartition),
      s"delete coords touched unmatched partitions: ${delTargets -- byPartition}")
    // a cross-partition UPDATE splits its output per partition value
    val beforeX = t.dataFiles.map(_.path).toSet
    spark.sql("UPDATE lake.db.rp SET amount = amount + 10 WHERE id >= 3")
    val xFiles = sql.catalog.loadTable("db", "rp").get.dataFiles
      .filterNot(f => beforeX.contains(f.path))
    assert(xFiles.map(_.partitionValues.get("category")).toSet
      == Set(Some("a"), Some("c")),
      s"cross-partition rewrite must split per partition: $xFiles")
    assert(spark.sql("SELECT id, amount FROM lake.db.rp ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toPlainString).toSeq
      == Seq(2 -> "3.25", 3 -> "13.25", 4 -> "14.25"))
  }

  test("DSv2 catalog: _file_path/_pos metadata columns select natively") {
    val wh = Files.createTempDirectory("graft-mc-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.mc (id INT)")
    sql.run("INSERT INTO db.mc VALUES (1), (2), (3)")
    val rows = spark.sql(
      "SELECT id, _file_path, _pos FROM lake.db.mc ORDER BY id").collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getString(1).nonEmpty && r.getLong(2) >= 0))
  }

  test("native DML commit CAS-es against the analysis-time handle (no silent lost delete)") {
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft-cas-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.cas (id INT, category STRING) TBLPROPERTIES (
      'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.cas VALUES (1, 'a'), (2, 'b')")
    val t = sql.catalog.loadTable("db", "cas").get // "analysis-time" handle

    // a position-delete delta targeting t's file, as a delta writer would
    val coords = t.readWithCoords().filter(col("id") === 1)
      .select(col(LakeTable.FileCol).as("file_path"), col(LakeTable.PosCol).as("pos"))
    val delDir = Files.createTempDirectory("graft-cas-del")
    coords.coalesce(1).write.mode("overwrite").parquet(delDir.toString)
    val delFile = Files.walk(delDir).filter(_.toString.endsWith(".parquet"))
      .findFirst().get.toString
    val write = new LakeDeltaBatchWrite(t,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE, t.schema)
    val msg = LakeDeltaCommit(delFile, 1L, Nil, Nil)

    // a compaction lands BETWEEN the DML scan and its commit: the delta's
    // coordinates reference files the rewrite just replaced — committing
    // would be a silent no-op delete, so the CAS must reject instead
    Procedures.rewriteDataFiles(t.reloaded(), Map("rewrite-all" -> "true"))
    intercept[CommitConflictException] {
      write.commit(Array(msg))
    }
    // nothing landed: both rows still visible, delete never applied
    assert(sql.catalog.loadTable("db", "cas").get.read().count() == 2)
  }

  test("timestamp-partitioned native DML is not over-pruned into a silent no-op") {
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft-tsp-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("ts", TimestampType)))
    cat.createTable("db", "tp", schema, partitionBy = Seq("ts"),
      props = Map("write.delete.mode" -> "merge-on-read"))
      .append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(1, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
          org.apache.spark.sql.Row(2, java.sql.Timestamp.valueOf("2026-02-01 00:00:00"))), 1),
        schema))
    spark.conf.set(LakeExtensions.WarehouseConf, wh.toString)
    // java.sql.Timestamp.toString carries a trailing ".0" that never
    // equals the hive-path rendering — such constraints must be skipped
    // (conservative full scan), not applied (prune-everything no-op)
    spark.sql("DELETE FROM lake.db.tp WHERE ts = TIMESTAMP '2026-01-01 00:00:00'")
    val left = cat.loadTable("db", "tp").get.read()
      .collect().map(_.getInt(0)).toSeq
    assert(left == Seq(2), s"DELETE was a silent no-op or over-deleted: $left")
  }

  test("native ALTER/DROP are grant-gated; namespace contracts hold") {
    val wh = Files.createTempDirectory("graft-ddl-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.gd (id INT)")
    sql.catalog.grant("db", "gd", "alice", Seq("SELECT"))
    try {
      spark.conf.set(LakeExtensions.PrincipalConf, "alice")
      intercept[AccessDeniedException] {
        spark.sql("ALTER TABLE lake.db.gd SET TBLPROPERTIES('k'='v')")
      }
      intercept[AccessDeniedException] { spark.sql("DROP TABLE lake.db.gd") }
    } finally spark.conf.unset(LakeExtensions.PrincipalConf)
    assert(sql.catalog.tableExists("db", "gd"))
    // an existing leaf namespace lists zero children, not an error
    assert(spark.sql("SHOW NAMESPACES IN lake.db").collect().isEmpty)
    // nested namespace creation is rejected, never truncated to 'a'
    intercept[Exception] { spark.sql("CREATE NAMESPACE lake.a.b") }
    assert(!sql.catalog.namespaceExists("a"))
  }

  test("VERSION AS OF resolves snapshot tags, with a diagnostic for unknowns") {
    val wh = Files.createTempDirectory("graft-tag-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.tg (id INT)")
    sql.run("INSERT INTO db.tg VALUES (1), (2)")
    val t1 = sql.catalog.loadTable("db", "tg").get
    t1.tagSnapshot("rel", t1.currentSnapshot.get.id)
    sql.run("INSERT INTO db.tg VALUES (3)")
    spark.conf.set(LakeExtensions.WarehouseConf, wh.toString)
    assert(spark.sql("SELECT id FROM lake.db.tg VERSION AS OF 'rel'")
      .collect().length == 2)
    val err = intercept[Exception] {
      spark.sql("SELECT id FROM lake.db.tg VERSION AS OF 'nope'").collect()
    }
    assert(err.getMessage.contains("rel"), s"diagnostic should list tags: $err")
    // a BRANCH name reads that branch's current head (r7): audit commits
    // visible under the ref, invisible on main
    val t2 = sql.catalog.loadTable("db", "tg").get.createBranch("audit")
    t2.onBranch("audit").append(spark.range(4, 6).selectExpr("CAST(id AS INT) id"))
    assert(spark.sql("SELECT id FROM lake.db.tg VERSION AS OF 'audit'")
      .collect().length == 5)
    assert(spark.sql("SELECT id FROM lake.db.tg").collect().length == 3,
      "main must not see the branch commits")
  }

  test("bricked v3 table: native UPDATE fails with the repair pointer") {
    val wh = Files.createTempDirectory("graft-brick-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.bk (id INT, category STRING) TBLPROPERTIES (
      'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.bk VALUES (1, 'a')")
    val v3 = Procedures.upgradeFormatVersion(sql.catalog.loadTable("db", "bk").get)
    v3.withMeta(v3.meta.copy(nextRowId = -1L)) // the README bricked state
    spark.conf.set(LakeExtensions.WarehouseConf, wh.toString)
    val err = intercept[MissingRowLineageException] {
      spark.sql("UPDATE lake.db.bk SET category = 'b' WHERE id = 1")
    }
    assert(err.getMessage.contains("repair_v3_metadata"))
    // LakeTable.update plans the same command and fails the same way
    val dfErr = intercept[MissingRowLineageException] {
      sql.catalog.loadTable("db", "bk").get
        .update(Map("category" -> lit("b")), col("id") === 1)
    }
    assert(dfErr.getMessage.contains("repair_v3_metadata"))
  }

  test("DSv2 catalog: session principal gates native reads and writes (M10)") {
    val wh = Files.createTempDirectory("graft-gr-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.g (id INT)")
    sql.run("INSERT INTO db.g VALUES (1), (2)")
    sql.catalog.grant("db", "g", "alice", Seq("SELECT"))
    try {
      spark.conf.set(LakeExtensions.PrincipalConf, "alice")
      assert(spark.sql("SELECT COUNT(*) AS c FROM lake.db.g").head().getLong(0) == 2)
      // SELECT-only principal cannot write natively
      intercept[AccessDeniedException] {
        spark.sql("INSERT INTO lake.db.g VALUES (3)")
      }
      // a principal with no grants at all cannot read
      spark.conf.set(LakeExtensions.PrincipalConf, "mallory")
      intercept[AccessDeniedException] {
        spark.sql("SELECT * FROM lake.db.g").collect()
      }
    } finally spark.conf.unset(LakeExtensions.PrincipalConf)
    // no principal set → the catalog stays administrative (unrestricted)
    assert(spark.sql("SELECT COUNT(*) AS c FROM lake.db.g").head().getLong(0) == 2)
    assert(sql.catalog.loadTable("db", "g").get.read().count() == 2)
  }

  test("native DELETE with no WHERE drops every live file on CoW and MoR tables") {
    val wh = Files.createTempDirectory("graft-dall-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    val mor = " TBLPROPERTIES ('write.delete.mode'='merge-on-read')"
    for ((t, props) <- Seq("cow" -> "", "mor" -> mor)) {
      sql.run(s"CREATE TABLE db.$t (id INT, category STRING) PARTITIONED BY (category)$props")
      sql.run(s"INSERT INTO db.$t VALUES (1, 'a'), (2, 'b'), (3, 'a')")
      sql.run(s"DELETE FROM db.$t WHERE id = 3") // MoR: a live delete file
      spark.conf.set(LakeExtensions.WarehouseConf, wh.toString)
      spark.sql(s"DELETE FROM lake.db.$t")
      val after = sql.catalog.loadTable("db", t).get
      assert(after.dataFiles.isEmpty && after.deleteFiles.isEmpty, t)
      assert(after.meta.snapshots.last.operation == "truncate", t)
      assert(spark.sql(s"SELECT COUNT(*) FROM lake.db.$t").head().getLong(0) == 0, t)
      sql.run(s"DELETE FROM db.$t") // an empty table deletes cleanly too
      sql.run(s"INSERT INTO db.$t VALUES (4, 'c')")
      assert(sql.run(s"SELECT id FROM db.$t").collect().map(_.getInt(0)).toSeq == Seq(4), t)
    }
  }

  test("LakeSql.run resolves through its own catalog: two warehouses in one " +
    "session, and DSv2 commits stamped by the injected clock") {
    val (wa, wb) = (Files.createTempDirectory("graft-wa-wh"), Files.createTempDirectory("graft-wb-wh"))
    val fixed = java.time.Instant.parse("2026-03-01T00:00:00Z").toEpochMilli
    val a = new LakeSql(new LakeCatalog(spark, wa, () => fixed))
    val b = new LakeSql(new LakeCatalog(spark, wb)) // the session warehouse now points at wb
    for ((sql, n) <- Seq(a -> 1, b -> 3)) {
      sql.run("CREATE TABLE db.t (id INT) TBLPROPERTIES ('write.update.mode'='merge-on-read')")
      sql.run(s"INSERT INTO db.t SELECT CAST(id AS INT) FROM range($n)")
    }
    a.run("UPDATE db.t SET id = id + 10")
    b.run("DELETE FROM db.t WHERE id = 0")
    assert(a.run("SELECT id FROM db.t").collect().map(_.getInt(0)).toSeq == Seq(10))
    assert(b.run("SELECT id FROM db.t ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    val ta = a.catalog.loadTable("db", "t").get
    assert(ta.meta.snapshots.map(_.operation) == Seq("append", "update"))
    assert(ta.meta.snapshots.forall(_.timestampMs == fixed))
  }

  test("LakeSql.run: a principal without SELECT never reads, whatever the spelling") {
    val wh = Files.createTempDirectory("graft-deny-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.secret (id INT)")
    sql.run("INSERT INTO db.secret VALUES (1), (2)")
    sql.run("CREATE TABLE db.open (id INT) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    sql.run("INSERT INTO db.open VALUES (1), (2), (3)")
    sql.catalog.grant("db", "open", "eve", Seq("SELECT", "DELETE"))
    val snap = sql.catalog.loadTable("db", "secret").get.currentSnapshot.get.id
    for (q <- Seq("SELECT * FROM db.secret",
        s"SELECT * FROM db.secret VERSION AS OF $snap",
        "SELECT * FROM db.secret.files",
        "SELECT COUNT(*) FROM db.open WHERE id IN (SELECT id FROM db.secret)"))
      intercept[AccessDeniedException](sql.run(q, Some("eve")).collect())
    intercept[AccessDeniedException](
      sql.run("DELETE FROM db.open WHERE id IN (SELECT id FROM db.secret)", Some("eve")).collect())
    // nothing was deleted, and the granted table still reads
    assert(sql.run("SELECT COUNT(*) FROM db.open", Some("eve")).head().getLong(0) == 3)
  }

  test("LakeSql.run refuses statements outside the grants model and changes nothing") {
    val wh = Files.createTempDirectory("graft-refuse-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.t (id INT)")
    sql.run("INSERT INTO db.t VALUES (1), (2)")
    val dir = sql.catalog.loadTable("db", "t").get.location
    def listing() = {
      val w = Files.walk(dir)
      try w.iterator().asScala.map(f => (f.toString, Files.size(f))).toSet finally w.close()
    }
    val files = listing()
    val confs = Seq(LakeExtensions.WarehouseConf, LakeExtensions.PrincipalConf)
    val before = confs.map(spark.conf.getOption)
    for (p <- Seq(Some("eve"), None); q <- Seq(
        s"SET ${LakeExtensions.PrincipalConf}=admin",
        s"SET ${LakeExtensions.WarehouseConf}=${wh.resolve("elsewhere")}",
        s"RESET ${LakeExtensions.WarehouseConf}",
        s"INSERT OVERWRITE DIRECTORY '$dir' USING parquet SELECT 1 AS id",
        "CACHE TABLE db.t",
        "INSERT INTO spark_catalog.default.t VALUES (1)"))
      intercept[SqlParseException](sql.run(q, p))
    assert(confs.map(spark.conf.getOption) == before)
    assert(listing() == files)
    assert(sql.run("SELECT COUNT(*) FROM db.t").head().getLong(0) == 2)
  }

  test("branch DDL surfaces: ALTER CREATE/DROP BRANCH + CALL fast_forward " +
    "(dispatcher and native)") {
    val wh = Files.createTempDirectory("graft-bddl-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.bd (id INT)")
    sql.run("INSERT INTO db.bd VALUES (1)")
    sql.run("ALTER TABLE db.bd CREATE BRANCH audit")
    // audit commit through the API handle; main must not see it
    sql.catalog.loadTable("db", "bd").get.onBranch("audit")
      .append(spark.range(2, 4).selectExpr("CAST(id AS INT) id"))
    assert(sql.run("SELECT COUNT(*) AS c FROM db.bd").head().getLong(0) == 1)
    // publish natively (Iceberg's CALL spelling), then via the dispatcher
    spark.conf.set(LakeExtensions.WarehouseConf, wh.toString)
    spark.sql("CALL lake.system.fast_forward(table => 'db.bd', " +
      "branch => 'audit')")
    assert(sql.run("SELECT COUNT(*) AS c FROM db.bd").head().getLong(0) == 3)
    sql.run("ALTER TABLE db.bd CREATE BRANCH b2 AS OF VERSION 1")
    assert(sql.catalog.loadTable("db", "bd").get.meta.branches("b2") == 1L)
    sql.run("CALL fast_forward(table => db.bd, branch => 'b2')")
    assert(sql.run("SELECT COUNT(*) AS c FROM db.bd").head().getLong(0) == 1)
    sql.run("ALTER TABLE db.bd DROP BRANCH b2")
    assert(!sql.catalog.loadTable("db", "bd").get.meta.branches.contains("b2"))
  }

  test("DSv2 catalog: native CALL runs maintenance procedures (M2/M3 surface)") {
    val wh = Files.createTempDirectory("graft-pc-wh")
    var now = java.time.Instant.parse("2026-03-01T00:00:00Z").toEpochMilli
    val sql = new LakeSql(new LakeCatalog(spark, wh, () => { now += 60000L; now }))
    sql.run("""CREATE TABLE db.pc (id INT, category STRING) TBLPROPERTIES (
      'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.pc VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    sql.run("DELETE FROM db.pc WHERE id = 2")
    assert(sql.catalog.loadTable("db", "pc").get.deleteFiles.nonEmpty)

    // the reference's own CALL spelling, typed natively at spark.sql
    val r = spark.sql("CALL lake.system.rewrite_data_files(table => 'db.pc', " +
      "options => map('rewrite-all', 'true'))").head()
    assert(r.getInt(0) > 0)
    assert(sql.catalog.loadTable("db", "pc").get.deleteFiles.isEmpty)
    assert(spark.sql("SELECT COUNT(*) AS c FROM lake.db.pc").head().getLong(0) == 2)

    // expire everything but the newest snapshot, then GC'd files are gone
    val before = sql.catalog.loadTable("db", "pc").get.meta.snapshots.size
    val ex = spark.sql("CALL lake.system.expire_snapshots(table => 'db.pc', " +
      s"older_than => TIMESTAMP '2026-03-02 00:00:00')").head()
    assert(ex.getInt(0) == before - 1)
    assert(sql.catalog.loadTable("db", "pc").get.meta.snapshots.size == 1)

    // orphan GC through the native surface (future cutoff deletes fresh)
    val orphan = sql.catalog.tableLocation("db", "pc")
      .resolve("data").resolve("orphan.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1))
    val og = spark.sql("CALL lake.system.remove_orphan_files(table => 'db.pc', " +
      "older_than => TIMESTAMP '2027-01-01 00:00:00')").head()
    assert(og.getInt(0) == 1 && !java.nio.file.Files.exists(orphan))

    // unknown procedure fails cleanly (Spark wraps it as a routine-load
    // failure; our known-procedures list rides in the cause)
    val e = intercept[Exception](
      spark.sql("CALL lake.system.nope(table => 'db.pc')"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("FAILED_TO_LOAD_ROUTINE") || msgs.contains("rewrite_data_files"))
  }

  test("DSv2 catalog: native DML fans out over multi-partition scans (many delta writers)") {
    val wh = Files.createTempDirectory("graft-mp-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    // a real multi-file table: lineitem at sf0.001 (6000 rows), loaded
    // through the engine across several write tasks
    graft.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
      .repartition(4)
      .createOrReplaceTempView("li_src")
    sql.run("CREATE TABLE db.li AS SELECT * FROM li_src")
    sql.run("ALTER TABLE db.li SET TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')")
    val t0 = sql.catalog.loadTable("db", "li").get
    assert(t0.dataFiles.size > 1, "fixture must span multiple data files")
    val total = spark.sql("SELECT COUNT(*) AS c FROM lake.db.li").head().getLong(0)
    val matching = spark.sql(
      "SELECT COUNT(*) AS c FROM lake.db.li WHERE l_quantity < 10").head().getLong(0)
    assert(matching > 100, s"want a delete spanning many rows, got $matching")

    spark.sql("DELETE FROM lake.db.li WHERE l_quantity < 10")

    val t1 = sql.catalog.loadTable("db", "li").get
    assert(t1.deleteFiles.map(_.rowCount).sum == matching)
    // several scan tasks each wrote their own position-delete file and
    // the single commit carries all of them
    assert(t1.deleteFiles.size > 1,
      s"expected multiple delta writers, got ${t1.deleteFiles.size} file(s)")
    assert(t1.meta.snapshots.size == t0.meta.snapshots.size + 1)
    assert(spark.sql("SELECT COUNT(*) AS c FROM lake.db.li").head().getLong(0)
      == total - matching)
    // update across the same fan-out: every row >= 40 rewritten with +1
    val n40 = spark.sql(
      "SELECT COUNT(*) AS c FROM lake.db.li WHERE l_quantity >= 40").head().getLong(0)
    val sumBefore = spark.sql(
      "SELECT CAST(SUM(l_quantity) AS DOUBLE) AS s FROM lake.db.li").head().getDouble(0)
    spark.sql("UPDATE lake.db.li SET l_quantity = l_quantity + 1 " +
      "WHERE l_quantity >= 40")
    assert(n40 > 100)
    assert(spark.sql(
      "SELECT COUNT(*) AS c FROM lake.db.li WHERE l_quantity >= 41").head().getLong(0)
      == n40)
    assert(math.abs(spark.sql(
      "SELECT CAST(SUM(l_quantity) AS DOUBLE) AS s FROM lake.db.li").head().getDouble(0)
      - (sumBefore + n40)) < 1e-6)
  }

  test("DSv2 catalog: native DML composes with ADD COLUMN schema evolution") {
    val wh = Files.createTempDirectory("graft-se-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.se (id INT, amount DECIMAL(10,2)) TBLPROPERTIES (
      'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.se VALUES (1, 10.25), (2, 20.75)")
    // metadata-only evolution: old files lack the column (null-filled)
    sql.run("ALTER TABLE db.se ADD COLUMN note STRING")
    sql.run("INSERT INTO db.se VALUES (3, 30.25, 'new')")
    // native UPDATE rewrites an old-file row under the evolved schema
    spark.sql("UPDATE lake.db.se SET note = 'patched' WHERE id = 1")
    assert(spark.sql("SELECT id, note FROM lake.db.se ORDER BY id").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toSeq
      == Seq(1 -> Some("patched"), 2 -> None, 3 -> Some("new")))
    // and native DELETE still anti-joins across mixed-schema files
    spark.sql("DELETE FROM lake.db.se WHERE note IS NULL")
    assert(spark.sql("SELECT id FROM lake.db.se ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("SQL surface: ADD COLUMN ... DEFAULT and ALTER COLUMN SET DEFAULT (M46)") {
    val wh = Files.createTempDirectory("graft-cd-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.cd (id INT, name STRING)")
    sql.run("INSERT INTO db.cd VALUES (1, 'a'), (2, 'b')")
    sql.run("ALTER TABLE db.cd ADD COLUMN score INT DEFAULT 7")
    // pre-column rows read the initial default through the dispatcher
    assert(sql.run("SELECT id, score FROM db.cd ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toSeq == Seq(1 -> 7, 2 -> 7))
    // an INSERT naming all columns writes physically; explicit NULL stays
    sql.run("INSERT INTO db.cd VALUES (3, 'c', NULL)")
    assert(sql.run("SELECT score FROM db.cd WHERE id = 3").head().isNullAt(0))
    // SET DEFAULT rewrites nothing: old rows keep 7
    sql.run("ALTER TABLE db.cd ALTER COLUMN score SET DEFAULT 9")
    assert(sql.run("SELECT score FROM db.cd WHERE id = 1").head().getInt(0) == 7)
    // string default with quotes, multi-column form
    sql.run("ALTER TABLE db.cd ADD COLUMNS (lang STRING DEFAULT 'en', n2 INT)")
    val r = sql.run("SELECT id, lang, n2 FROM db.cd ORDER BY id").collect()
    assert(r.forall(_.getString(1) == "en"))
    assert(r.forall(_.isNullAt(2))) // no default -> plain null-fill
    // invalid literal surfaces at DDL time
    assertThrows[IllegalArgumentException](
      sql.run("ALTER TABLE db.cd ADD COLUMN bad INT DEFAULT 'oops'"))
  }

  test("direct spark.sql: ADD COLUMN ... DEFAULT and SET DEFAULT apply through the catalog") {
    val wh = Files.createTempDirectory("graft-cdd-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.cdd (id INT)")
    sql.run("INSERT INTO db.cdd VALUES (1)")
    spark.sql("ALTER TABLE lake.db.cdd ADD COLUMN score INT DEFAULT 7")
    spark.sql("ALTER TABLE lake.db.cdd ALTER COLUMN score SET DEFAULT 9")
    spark.sql("INSERT INTO lake.db.cdd (id) VALUES (2)")
    // the pre-column row reads the initial default, the new row the
    // write default SET DEFAULT installed
    assert(spark.sql("SELECT id, score FROM lake.db.cdd ORDER BY id").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toSeq == Seq(1 -> 7, 2 -> 9))
  }

  test("DSv2 catalog: metadata tables lake.db.t.history/snapshots/files resolve natively") {
    val wh = Files.createTempDirectory("graft-mt-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.mt (id INT)")
    sql.run("INSERT INTO db.mt VALUES (1), (2)")
    sql.run("INSERT INTO db.mt VALUES (3)")
    assert(spark.sql("SELECT COUNT(*) AS c FROM lake.db.mt.history")
      .head().getLong(0) == 2)
    assert(spark.sql(
      "SELECT operation FROM lake.db.mt.snapshots ORDER BY snapshot_id")
      .collect().map(_.getString(0)).toSeq == Seq("append", "append"))
    assert(spark.sql("SELECT COUNT(*) AS c FROM lake.db.mt.files")
      .head().getLong(0)
      == sql.catalog.loadTable("db", "mt").get.dataFiles.size)
    // the base table still resolves normally next to its metadata tables
    assert(spark.sql("SELECT COUNT(*) AS c FROM lake.db.mt").head().getLong(0) == 3)
    // refs: main + a branch + a tag, with their head snapshot ids
    val t0 = sql.catalog.loadTable("db", "mt").get
    val t = t0.createBranch("audit", None)
      .tagSnapshot("v1", t0.meta.snapshots.map(_.id).min)
    val refs = spark.sql(
      "SELECT name, type, snapshot_id FROM lake.db.mt.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.map(x => (x._1, x._2)).toSeq ==
      Seq(("audit", "BRANCH"), ("main", "BRANCH"), ("v1", "TAG")))
    assert(refs.find(_._1 == "v1").get._3 == t.meta.snapshots.map(_.id).min)
  }

  test("all_files/manifests metadata tables; bloom filters written by property") {
    val wh = Files.createTempDirectory("graft-af-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("CREATE TABLE db.af (id INT, v STRING) TBLPROPERTIES (" +
      "'write.parquet.bloom-filter-columns'='v')")
    sql.run("INSERT INTO db.af VALUES (1, 'a'), (2, 'b')")
    sql.run("INSERT OVERWRITE db.af VALUES (3, 'c')")
    // .files shows the LIVE set; .all_files keeps the overwritten file
    // with the snapshots that referenced it (the expiry/debug view)
    val live = spark.sql("SELECT COUNT(*) AS c FROM lake.db.af.files")
      .head().getLong(0)
    val all = spark.sql("SELECT COUNT(*) AS c FROM lake.db.af.all_files")
      .head().getLong(0)
    assert(all > live)
    // one manifest per snapshot, with real lengths
    val mans = spark.sql(
      "SELECT snapshot_id, length FROM lake.db.af.manifests ORDER BY snapshot_id")
      .collect()
    assert(mans.length == 2 && mans.forall(_.getLong(1) > 0))
    // dispatcher spellings resolve too
    assert(sql.run("SELECT COUNT(*) AS c FROM db.af.all_files")
      .head().getLong(0) == all)
    assert(sql.run("SELECT COUNT(*) AS c FROM db.af.manifests")
      .head().getLong(0) == 2)
    // the bloom property reached the parquet writer: the footer records
    // a bloom filter offset for column v and none for id
    val t = sql.catalog.loadTable("db", "af").get
    val path = new org.apache.hadoop.fs.Path(t.dataFiles.head.path)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(path, new org.apache.hadoop.conf.Configuration())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = scala.jdk.CollectionConverters
        .ListHasAsScala(reader.getFooter.getBlocks.get(0).getColumns).asScala
        .map(c => c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)).toMap
      assert(cols("v"), s"expected a bloom filter on v: $cols")
      assert(!cols("id"), s"expected no bloom filter on id: $cols")
    } finally reader.close()
  }

  test("cosine_sim is registered as a native SQL function") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0, 0.0), array(1.0, 0.0)) AS s1, " +
        "ROUND(cosine_sim(array(1.0, 0.0), array(1.0, 1.0)), 4) AS s2").head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.7071)
    // works over real embedding columns too
    graft.Tables(spark, sf, "embeddings").limit(10).createOrReplaceTempView("emb10")
    val n = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS s FROM emb10").collect()
    assert(n.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }
}
