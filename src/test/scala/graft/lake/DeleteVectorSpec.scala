package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}

import graft.SparkSpec

/** M37 v3 deletion vectors: the delta-varint codec, DV-mode MoR DML kept
  * value-identical to the classic position-delete twin across a shared
  * operation script, compaction reclaiming DVs, and the v3 gate. */
class DeleteVectorSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("category", StringType),
    StructField("amount", DoubleType)))

  private def freshCatalog(): LakeCatalog = {
    val wh = Files.createTempDirectory("graft-dv-wh")
    var t = 1700000000000L
    new LakeCatalog(spark, wh, () => { t += 1000; t })
  }

  private def df(rows: Seq[(Int, String, Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, c, a) => Row(i, c, a) }, 2),
      schema)

  private def dvProps = Map(
    "format-version" -> "3",
    "write.delete.mode" -> "merge-on-read",
    "write.update.mode" -> "merge-on-read",
    "write.delete.format" -> "dv")

  private def posProps = dvProps - "write.delete.format"

  private val rows = (1 to 100).map(i => (i, s"c${i % 5}", i * 1.5))

  test("codec: encode/decode round-trips sorted position sets (seeded property)") {
    val gen = for {
      n <- Gen.choose(0, 400)
      ps <- Gen.listOfN(n, Gen.choose(0L, 5000000L))
    } yield ps
    val cases = Gen.listOfN(40, gen)
      .apply(Gen.Parameters.default, rng.Seed(7L))
      .getOrElse(sys.error("gen failed"))
    cases.foreach { ps =>
      val sorted = ps.distinct.sorted.toArray
      val bytes = DeleteVectors.encode(ps.sorted.toArray) // dups collapse
      assert(DeleteVectors.decode(bytes).toSeq == sorted.toSeq)
    }
    // dense run: ~1 byte/position
    val dense = (1000L until 3000L).toArray
    assert(DeleteVectors.encode(dense).length < dense.length * 2)
    intercept[IllegalArgumentException] { // unknown version byte
      DeleteVectors.decode(Array[Byte](99, 1, 2))
    }
    intercept[IllegalArgumentException] { // truncated varint
      DeleteVectors.decode(Array[Byte](1, 0x80.toByte))
    }
    intercept[IllegalArgumentException] { // runaway continuation bits
      DeleteVectors.decode(Array[Byte](1) ++ Array.fill(11)(0x80.toByte))
    }
  }

  test("compact-broadcast and decoded-pairs fallback read identically") {
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "fb", schema, Nil, dvProps)
      .append(df(rows))
    t = t.delete(col("id") % 7 === 0)
    // mixed inputs: v2 position deletes on the same data files as a DV
    // written after the upgrade, and every position of one
    // position-delete file deleted again by a second file
    var m = cat.createTable("db", "fbmix", schema, Nil,
      posProps + ("format-version" -> "2")).append(df(rows))
    m = m.delete(col("id") % 7 === 0)
    val first = m.deleteFiles.filter(_.kind == "position")
    val copies = first.map { f =>
      val to = java.nio.file.Paths.get(f.path).resolveSibling(s"dup-${f.rowCount}.parquet")
      Files.copy(java.nio.file.Paths.get(f.path), to)
      f.copy(path = to.toString)
    }
    m = m.commitSnapshot(m.newSnapshot("delete", m.dataFiles, m.deleteFiles ++ copies))
    m = Procedures.upgradeFormatVersion(m, extraProps = Map("write.delete.format" -> "dv"))
    m = m.delete(col("id") % 11 === 0)
    assert(m.deleteFiles.count(_.kind == "position") == 2 * first.size && first.nonEmpty)
    assert(m.deleteFiles.exists(_.kind == "dv"))
    def replay(deleted: Int => Boolean): Seq[Row] =
      rows.filterNot(r => deleted(r._1)).map { case (i, c, a) => Row(i, c, a) }
    val cases = Seq(
      t -> replay(_ % 7 == 0),
      m -> replay(i => i % 7 == 0 || i % 11 == 0))
    for ((table, expected) <- cases) {
      val compact = table.read().orderBy("id").collect().toSeq
      assert(compact == expected, table.name)
      // force the fallback path: a zero budget routes every position
      // delete and DV through the one decoded-pairs anti-join
      spark.conf.set("spark.graft.dv.broadcastBudgetBytes", "0")
      try {
        val fallback = table.read().orderBy("id").collect().toSeq
        assert(fallback == expected, table.name)
      } finally spark.conf.unset("spark.graft.dv.broadcastBudgetBytes")
    }
  }

  test("DV-mode DML is value-identical to the position-delete twin") {
    val catA = freshCatalog(); catA.createNamespace("db")
    val catB = freshCatalog(); catB.createNamespace("db")
    var dv = catA.createTable("db", "t", schema, Seq("category"), dvProps)
      .append(df(rows))
    var pos = catB.createTable("db", "t", schema, Seq("category"), posProps)
      .append(df(rows))

    def script(t: LakeTable): LakeTable = {
      val afterDel = t.delete(col("id") % 3 === 0)
      val afterUpd = afterDel.update(Map("amount" -> (col("amount") * 2)),
        col("category") === "c1")
      afterUpd.delete(col("id") < 10)
    }
    dv = script(dv); pos = script(pos)

    // representations differ; states match
    assert(dv.deleteFiles.nonEmpty && dv.deleteFiles.forall(_.kind == "dv"))
    assert(pos.deleteFiles.exists(_.kind == "position"))
    val a = dv.read().orderBy("id").collect().toSeq
    val b = pos.read().orderBy("id").collect().toSeq
    assert(a == b && a.nonEmpty)

    // row lineage survives DV MoR (v3 tables carry _row_id)
    val ids = dv.readWithRowIds().select("_row_id").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length)

    // the DV bytes on disk undercut the equivalent position parquet rows
    val dvBytes = dv.deleteFiles.map(f => Files.size(java.nio.file.Paths.get(f.path))).sum
    val posBytes = pos.deleteFiles.filter(_.kind == "position")
      .map(f => Files.size(java.nio.file.Paths.get(f.path))).sum
    assert(dv.deleteFiles.map(_.rowCount).sum ==
      pos.deleteFiles.filter(_.kind == "position").map(_.rowCount).sum)
    assert(dvBytes > 0 && posBytes > 0)
  }

  test("compaction reclaims deletion vectors like classic delete files") {
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "c", schema, Nil, dvProps)
      .append(df(rows))
    t = t.delete(col("id") <= 50)
    assert(t.deleteFiles.nonEmpty)
    val before = t.read().orderBy("id").collect().toSeq
    val res = Procedures.rewriteDataFiles(t,
      Map("rewrite-all" -> "true", "delete-file-threshold" -> "1"))
    val after = res.table
    assert(after.deleteFiles.isEmpty)
    assert(after.read().orderBy("id").collect().toSeq == before)
  }

  test("threshold-based compaction counts DV references per data file") {
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "th", schema, Nil, dvProps)
      .append(df(rows.take(50)))   // file set A
    t = t.append(df(rows.drop(50))) // file set B
    t = t.delete(col("id") === 3)   // hits only A-era files
    val targeted = spark.read
      .parquet(t.deleteFiles.filter(_.kind == "dv").map(_.path): _*)
      .select("file_path").collect().map(_.getString(0)).toSet
    val untargeted = t.dataFiles.map(_.path).filterNot(targeted).toSet
    assert(targeted.nonEmpty && untargeted.nonEmpty)
    val after = Procedures.rewriteDataFiles(
      t, Map("delete-file-threshold" -> "1")).table
    val survivors = after.dataFiles.map(_.path).toSet
    // files the DV targets were rewritten; untargeted files survive as-is
    assert(targeted.forall(p => !survivors.contains(p)))
    assert(untargeted.forall(survivors.contains))
    assert(after.read().select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      (1 to 100).filterNot(_ == 3).toSeq)
  }

  test("native SQL DML honors write.delete.format=dv") {
    val wh = Files.createTempDirectory("graft-dv-sql-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.ndv (id INT, v DOUBLE) TBLPROPERTIES (
      'format-version'='3',
      'write.delete.mode'='merge-on-read',
      'write.update.mode'='merge-on-read',
      'write.delete.format'='dv')""")
    sql.run("INSERT INTO db.ndv VALUES " +
      (1 to 30).map(i => s"($i, ${i * 1.5})").mkString(", "))
    // native path: spark.sql over the DSv2 catalog → WriteDelta
    spark.sql("DELETE FROM lake.db.ndv WHERE id % 5 = 0")
    spark.sql("UPDATE lake.db.ndv SET v = v + 100 WHERE id = 7")
    val t = sql.catalog.loadTable("db", "ndv").get
    assert(t.deleteFiles.nonEmpty && t.deleteFiles.forall(_.kind == "dv"))
    assert(t.deleteFiles.map(_.rowCount).sum == 7) // 6 deletes + 1 update coord
    val got = spark.sql("SELECT id, v FROM lake.db.ndv ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val expect = (1 to 30).filterNot(_ % 5 == 0)
      .map(i => (i, if (i == 7) i * 1.5 + 100 else i * 1.5))
    assert(got == expect)
  }

  test("DV format requires format-version 3") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "v2", schema, Nil,
      dvProps + ("format-version" -> "2")).append(df(rows.take(10)))
    val e = intercept[IllegalStateException] { t.delete(col("id") === 1) }
    assert(e.getMessage.contains("format-version 3"))
  }

  test("rewrite_position_delete_files consolidates mixed delete files into DVs") {
    val wh = Files.createTempDirectory("graft-dv-cons-wh")
    val sql = new LakeSql(new LakeCatalog(spark, wh))
    sql.run("""CREATE TABLE db.cp (id INT, v DOUBLE) TBLPROPERTIES (
      'format-version'='3',
      'write.delete.mode'='merge-on-read',
      'write.update.mode'='merge-on-read')""")
    sql.run("INSERT INTO db.cp VALUES " +
      (1 to 40).map(i => s"($i, ${i * 1.0})").mkString(", "))
    // several position-delete commits, then flip to DV and one more
    sql.run("DELETE FROM db.cp WHERE id IN (1, 2)")
    sql.run("DELETE FROM db.cp WHERE id IN (3, 4)")
    sql.run("DELETE FROM db.cp WHERE id = 5")
    sql.run("ALTER TABLE db.cp SET TBLPROPERTIES ('write.delete.format'='dv')")
    sql.run("DELETE FROM db.cp WHERE id = 6")
    val before = sql.catalog.loadTable("db", "cp").get
    assert(before.deleteFiles.map(_.kind).toSet == Set("position", "dv"))
    assert(before.deleteFiles.size >= 4)
    val expect = (7 to 40).toSeq

    val res = sql.run(
      "CALL rewrite_position_delete_files(table => 'db.cp')").head()
    assert(res.getInt(0) >= 4) // consolidated
    val after = sql.catalog.loadTable("db", "cp").get
    // one representation, far fewer files, in the table's current format
    assert(after.deleteFiles.forall(_.kind == "dv"))
    assert(after.deleteFiles.size < before.deleteFiles.size)
    assert(after.deleteFiles.map(_.rowCount).sum == 6)
    assert(sql.run("SELECT id FROM db.cp ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == expect)
    // native CALL spelling works too (idempotent second pass: no-op)
    val again = spark.sql(
      "CALL lake.system.rewrite_position_delete_files(table => 'db.cp')").head()
    assert(again.getInt(0) <= 1)
  }

  test("a SINGLE wrong-format delete file still migrates on consolidation") {
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "m1", schema, Nil, posProps)
      .append(df(rows.take(20)))
    t = t.delete(col("id") === 3) // one classic position file
    assert(t.deleteFiles.map(_.kind) == Seq("position"))
    t = t.setProperties(Map("write.delete.format" -> "dv"))
    val (after, consolidated, written) = t.consolidatePositionDeletes()
    assert(consolidated == 1 && written >= 1)
    assert(after.deleteFiles.forall(_.kind == "dv"))
    assert(after.read().count() == 19)
    // and already-right-format single file short-circuits
    assert(after.consolidatePositionDeletes()._2 == 0)
  }

  test("mixed representations coexist: position deletes from native DML + DV from engine DML") {
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "mx", schema, Nil, dvProps)
      .append(df(rows.take(20)))
    t = t.delete(col("id") === 5) // DV
    // flip the property: subsequent deletes write classic parquet
    t = t.setProperties(Map("write.delete.format" -> "position"))
    t = t.delete(col("id") === 6)
    assert(t.deleteFiles.map(_.kind).toSet == Set("dv", "position"))
    assert(t.read().select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      (1 to 20).filterNot(Set(5, 6)).toSeq)
  }
}
