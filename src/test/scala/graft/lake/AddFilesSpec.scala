package graft.lake

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.GreaterThan
import org.apache.spark.sql.types._

import graft.SparkSpec

/** M38 `add_files`: metadata-only adoption of EXISTING parquet into a
  * lake table (Iceberg's add_files procedure). The contract under test:
  * no byte is copied, footer stats make adopted files prunable from the
  * first query, v3 lineage is minted at commit, the schema gate rejects
  * incompatible files, and DROP TABLE never deletes adopted files (they
  * live outside the table directory). */
class AddFilesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("category", StringType),
    StructField("amount", DoubleType)))

  private def freshCatalog(): LakeCatalog = {
    val wh = Files.createTempDirectory("graft-af-test-wh")
    var t = 1700000000000L
    new LakeCatalog(spark, wh, () => { t += 1000; t })
  }

  private def df(rows: (Int, String, Double)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, c, a) => Row(i, c, a) }, 1),
      schema)

  /** One external parquet FILE (not directory) holding `rows`. */
  private def externalFile(dir: Path, name: String,
      rows: (Int, String, Double)*): Path = {
    val tmp = dir.resolve(s"$name.tmpdir")
    df(rows: _*).coalesce(1).write.parquet(tmp.toString)
    val part = LakeTable.listParquetFiles(tmp).head
    val out = dir.resolve(s"$name.parquet")
    Files.move(part, out)
    LakeTable.deleteRecursively(tmp)
    out
  }

  test("adoption is metadata-only: rows visible, zero bytes copied") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val ext = Files.createTempDirectory("graft-af-ext")
    val f = externalFile(ext, "a", (1, "a", 10.0), (2, "b", 20.0))
    val t = cat.createTable("db", "t1", schema).addFiles(Seq(f))
    assert(t.read().select("id").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2))
    // the table directory gained NO parquet — the file is referenced in place
    assert(LakeTable.listParquetFiles(cat.tableLocation("db", "t1")).isEmpty)
    assert(t.dataFiles.map(_.path) == Seq(f.toString))
    assert(t.dataFiles.head.rowCount == 2) // footer count, no scan
    assert(t.currentSnapshot.get.summary("adopted") == "true")
  }

  test("footer stats prune adopted files from the first query") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val ext = Files.createTempDirectory("graft-af-ext")
    val lo = externalFile(ext, "lo", (1, "a", 10.0), (2, "a", 20.0))
    val hi = externalFile(ext, "hi", (100, "b", 1.0), (200, "b", 2.0))
    val t = cat.createTable("db", "t2", schema).addFiles(Seq(lo, hi))
    val pruned = t.readPruned(Seq(GreaterThan("id", 50)))
    assert(pruned.inputFiles.length == 1) // `lo` vaporized by footer stats
    assert(pruned.select("id").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(100, 200))
  }

  test("schema gate: missing column and type mismatch throw; extra file " +
      "columns are projected away") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val ext = Files.createTempDirectory("graft-af-ext")
    val t = cat.createTable("db", "t3", schema)

    val missingDir = ext.resolve("missing")
    df((1, "a", 1.0)).select("id", "category").write.parquet(missingDir.toString)
    val missing = LakeTable.listParquetFiles(missingDir).head
    val e1 = intercept[IllegalArgumentException](t.addFiles(Seq(missing)))
    assert(e1.getMessage.contains("amount"))

    val wrongDir = ext.resolve("wrong")
    df((1, "a", 1.0)).withColumn("amount", col("amount").cast("string"))
      .write.parquet(wrongDir.toString)
    val wrong = LakeTable.listParquetFiles(wrongDir).head
    val e2 = intercept[IllegalArgumentException](t.addFiles(Seq(wrong)))
    assert(e2.getMessage.contains("amount"))

    val extraDir = ext.resolve("extra")
    df((7, "z", 7.0)).withColumn("extra_col", lit("ignored"))
      .write.parquet(extraDir.toString)
    val extra = LakeTable.listParquetFiles(extraDir).head
    val t2 = t.addFiles(Seq(extra))
    assert(t2.read().columns.toSeq == schema.fieldNames.toSeq)
    assert(t2.read().select("id").head().getInt(0) == 7)
  }

  test("v3 lineage: adopted rows get fresh row ids continuing the table's " +
      "range, and MoR DELETE works against adopted files") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val ext = Files.createTempDirectory("graft-af-ext")
    val t0 = cat.createTable("db", "t4", schema, props = Map(
      "format-version" -> "3",
      "write.delete.mode" -> "merge-on-read"))
      .append(df((1, "a", 1.0), (2, "a", 2.0)))
    val before = t0.meta.nextRowId
    val f = externalFile(ext, "b", (3, "b", 3.0), (4, "b", 4.0))
    val t1 = t0.addFiles(Seq(f))
    assert(t1.meta.nextRowId == before + 2)
    val rids = t1.readWithRowIds().select("_row_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(rids == rids.distinct && rids.size == 4)
    // position deletes target the external file path like any other
    val t2 = t1.delete(col("id") === 3)
    assert(t2.read().select("id").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2, 4))
    assert(Files.exists(f)) // MoR delete never touches the data file
  }

  test("schema gate is PER FILE: one incompatible file in a multi-file " +
      "add rejects the whole batch, nothing commits") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val ext = Files.createTempDirectory("graft-af-ext")
    val good = externalFile(ext, "good", (1, "a", 1.0))
    val badDir = ext.resolve("bad")
    df((2, "b", 2.0)).select("id", "category").write.parquet(badDir.toString)
    val bad = LakeTable.listParquetFiles(badDir).head
    val t = cat.createTable("db", "t6", schema)
    // `good` first: a sampled-union gate would see the full schema and pass
    val e = intercept[IllegalArgumentException](t.addFiles(Seq(good, bad)))
    assert(e.getMessage.contains("amount") && e.getMessage.contains("bad"))
    assert(cat.loadTable("db", "t6").get.dataFiles.isEmpty)
  }

  test("re-adopting an already-referenced file is rejected, not doubled") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val ext = Files.createTempDirectory("graft-af-ext")
    val f = externalFile(ext, "once", (1, "a", 1.0), (2, "b", 2.0))
    val t = cat.createTable("db", "t7", schema).addFiles(Seq(f))
    val e = intercept[IllegalArgumentException](t.addFiles(Seq(f)))
    assert(e.getMessage.contains("already referenced"))
    intercept[IllegalArgumentException](
      cat.createTable("db", "t7b", schema).addFiles(Seq(f, f)))
    assert(cat.loadTable("db", "t7").get.read().count() == 2)
  }

  test("expire_snapshots GCs table-owned dead files but never adopted " +
      "external ones") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val ext = Files.createTempDirectory("graft-af-ext")
    val f = externalFile(ext, "src", (1, "a", 1.0), (2, "b", 2.0))
    var t = cat.createTable("db", "t8", schema)
      .append(df((10, "x", 10.0)))  // table-owned file, superseded below
      .addFiles(Seq(f))
    t = Procedures.rewriteDataFiles(t, Map("rewrite-all" -> "true")).table
    val expired = Procedures.expireSnapshots(t, Long.MaxValue, retainLast = 1)
    assert(expired.expiredSnapshots > 0)
    assert(Files.exists(f)) // external source parquet survives expiry
    // the pre-compaction table-owned file is genuinely gone
    assert(LakeTable.listParquetFiles(cat.tableLocation("db", "t8"))
      .map(_.toString).toSet
      == expired.table.dataFiles.map(_.path).toSet)
    assert(expired.table.read().count() == 3)
  }

  test("CALL snapshot creates + adopts in one call on both surfaces, " +
    "schema from the source footers, source untouched") {
    val wh = Files.createTempDirectory("graft-snapp-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.catalog.createNamespace("db")
    val srcDir = s"$sf/region.parquet"
    val srcCount = spark.read.parquet(srcDir).count()

    // dispatcher surface
    val res = sql.run(s"CALL snapshot(table => db.snapr, source => '$srcDir')")
    assert(res.collect().head.getInt(0) >= 1) // added_files_count
    val t = sql.catalog.loadTable("db", "snapr").get
    assert(t.schema.fieldNames.toSeq ==
      spark.read.parquet(srcDir).schema.fieldNames.toSeq,
      "schema must come from the source footers")
    assert(t.read().count() == srcCount)
    assert(t.currentSnapshot.get.summary.get("adopted").contains("true"),
      "snapshot must be a zero-copy adoption, not a rewrite")

    // native CALL surface
    spark.conf.set(LakeExtensions.WarehouseConf, wh.toString)
    val res2 = spark.sql(
      s"CALL lake.system.snapshot(table => 'db.snapr2', source => '$srcDir')")
    assert(res2.collect().head.getLong(1) == srcCount)
    assert(sql.run("SELECT COUNT(*) AS c FROM db.snapr2").head().getLong(0)
      == srcCount)

    // the source files are still there and still owned externally
    assert(spark.read.parquet(srcDir).count() == srcCount)
    sql.run("DROP TABLE db.snapr")
    assert(spark.read.parquet(srcDir).count() == srcCount,
      "DROP of a snapshot table must never delete the external source")
  }

  test("DROP TABLE leaves adopted files on disk (external ownership)") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val ext = Files.createTempDirectory("graft-af-ext")
    val f = externalFile(ext, "keep", (1, "a", 1.0))
    cat.createTable("db", "t5", schema).addFiles(Seq(f))
    cat.dropTable("db", "t5")
    assert(Files.exists(f))
  }

  test("both SQL surfaces: dispatcher CALL add_files and native " +
      "CALL lake.system.add_files") {
    val ext = Files.createTempDirectory("graft-af-ext")
    val d1 = Files.createDirectories(ext.resolve("d1"))
    externalFile(d1, "x", (1, "a", 1.0), (2, "b", 2.0))
    val wh = Files.createTempDirectory("graft-af-sql-wh")
    var now = java.time.Instant.parse("2026-03-01T00:00:00Z").toEpochMilli
    val sql = new LakeSql(new LakeCatalog(spark, wh, () => { now += 1000L; now }))
    sql.run("CREATE TABLE db.af (id INT, category STRING, amount DOUBLE)")
    val r = sql.run(s"CALL add_files(table => db.af, source => '$d1')").head()
    assert(r.getInt(0) == 1 && r.getLong(1) == 2L)
    assert(sql.run("SELECT COUNT(*) AS c FROM db.af").head().getLong(0) == 2)

    val f2 = externalFile(ext, "y", (3, "c", 3.0))
    val n = spark.sql("CALL lake.system.add_files(table => 'db.af', " +
      s"source => '$f2')").head()
    assert(n.getInt(0) == 1 && n.getLong(1) == 1L)
    assert(spark.sql("SELECT COUNT(*) AS c FROM lake.db.af").head().getLong(0) == 3)
  }
}
