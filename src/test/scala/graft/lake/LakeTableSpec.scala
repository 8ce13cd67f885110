package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Unit coverage for the lake layer: append/delete/update in MoR and CoW
  * modes, strict-reader failure, equality-delete sequence scoping, row
  * lineage, and commit protocol (ADVICE r1: the layer shipped untested). */
class LakeTableSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("category", StringType),
    StructField("amount", DoubleType)))

  private def freshCatalog(): LakeCatalog = {
    val wh = Files.createTempDirectory("graft-test-wh")
    var t = 1700000000000L
    new LakeCatalog(spark, wh, () => { t += 1000; t })
  }

  private def df(rows: (Int, String, Double)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, c, a) => Row(i, c, a) }, 1),
      schema)

  private def dfNullCat(id: Int, a: Double): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(id, null, a)), 1), schema)

  private val sixRows = Seq(
    (1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0),
    (4, "b", 40.0), (5, "c", 50.0), (6, "c", 60.0))

  private def morProps = Map(
    "write.delete.mode" -> "merge-on-read",
    "write.update.mode" -> "merge-on-read")

  private def ids(t: LakeTable): Seq[Int] =
    t.read().select("id").collect().map(_.getInt(0)).sorted.toSeq

  /** Rows 1..66 written as 33 data files, one past Spark's
    * parallel-listing threshold (32 paths) for a path-list read. */
  private def wideRows: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      (1 to 66).map(i => Row(i, Seq("a", "b", "c")(i % 3), i * 10.0)), 33), schema)

  /** Spark jobs started while `body` runs, the listener bus drained
    * before and after so no earlier job leaks in and none is missed. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("snapshot summaries auto-stamp the Iceberg standard keys (M61): " +
    "commit observability never costs a scan") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t0 = cat.createTable("db", "sum1", schema, Seq("category"), morProps)
      .append(df(sixRows: _*))
    val s0 = t0.currentSnapshot.get.summary
    assert(s0("added-data-files") == "3" && s0("added-records") == "6")
    assert(s0("total-data-files") == "3" && s0("total-records") == "6")
    assert(s0("deleted-data-files") == "0" && s0("added-files-size").toLong > 0)
    // MoR delete: one delete file added, data files untouched,
    // total-records stays the RAW data-file sum (Iceberg semantics)
    val t1 = t0.delete(col("id") === 1)
    val s1 = t1.currentSnapshot.get.summary
    assert(s1("added-delete-files").toInt >= 1 && s1("added-data-files") == "0")
    assert(s1("total-data-files") == "3" && s1("total-records") == "6")
    // compaction: old files retire, records carry over minus the delete
    val t2 = Procedures.rewriteDataFiles(t1, Map("rewrite-all" -> "true")).table
    val s2 = t2.currentSnapshot.get.summary
    assert(s2("deleted-data-files") == "3")
    assert(s2("total-records") == "5" && s2("total-delete-files") == "0")
    // caller-provided row-exact figures still override the file-diff
    // (the DML paths' matched/deleted counts)
    assert(s1.get("deleted-records").contains("1") ||
      !s1.contains("deleted-records")) // engine API may not stamp it; never wrong
    // and the history projection surfaces the stamped summary
    val sumCol = t2.history()
      .orderBy(col("snapshot_id").desc).select("summary").head().getString(0)
    assert(sumCol.contains("total-records=5"), sumCol)
  }

  test("append + read roundtrip with partitioned files") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "t1", schema, Seq("category"))
      .append(df(sixRows: _*))
    assert(ids(t) == Seq(1, 2, 3, 4, 5, 6))
    assert(t.dataFiles.size == 3) // one per category partition
    assert(t.dataFiles.flatMap(_.partitionValues.get("category")).sorted
      == Seq("a", "b", "c"))
  }

  test("metadata-level partition pruning selects only matching files") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "t2", schema, Seq("category"))
      .append(df(sixRows: _*))
    val pruned = t.read(partitionFilter = pv => pv.get("category").contains("b"))
    assert(pruned.inputFiles.length == 1)
    assert(pruned.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
  }

  test("MoR delete writes a position-delete file and hides rows at scan") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "t3", schema, props = morProps)
      .append(df(sixRows: _*))
      .delete(col("id").isin(2, 4))
    assert(ids(t) == Seq(1, 3, 5, 6))
    assert(t.deleteFiles.nonEmpty)
    assert(t.deleteFiles.forall(_.kind == "position"))
    assert(t.dataFiles.size == 1) // data untouched (merge-on-read)
  }

  test("classic position-delete broadcast is budget-gated (VERDICT r15 " +
    "wrong #2): the past-budget unhinted plan is row-equal") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "t3gate", schema, props = morProps)
      .append(df(sixRows: _*))
      .delete(col("id").isin(2, 4))
    assert(t.deleteFiles.forall(_.kind == "position"))
    // equality deletes follow the same budget rule
    val eq = cat.createTable("db", "t3gateEq", schema, props = morProps)
      .append(df(sixRows: _*))
      .addEqualityDeletes(df((2, "x", 0.0), (4, "x", 0.0)).select("id"), Seq("id"))
    assert(eq.deleteFiles.forall(_.kind == "equality"))
    val hinted = ids(t)
    assert(ids(eq) == hinted)
    // a zero budget must drop the hint (v2 tables can't write DVs, so a
    // large MoR delete wave has no compact fallback — AQE must decide)
    spark.conf.set("spark.graft.dv.broadcastBudgetBytes", "0")
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      for (table <- Seq(t, eq)) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
        assert(ids(table) == hinted, table.name)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = table.read().queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"), s"${table.name}: ${plan.take(800)}")
        assert(ids(table) == hinted, table.name)
      }
    } finally {
      spark.conf.unset("spark.graft.dv.broadcastBudgetBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("building a MoR read launches no Spark job: position deletes, " +
    "deletion vectors and equality deletes") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val pos = cat.createTable("db", "jpos", schema, props = morProps)
      .append(df(sixRows: _*)).delete(col("id") === 2).delete(col("id") === 4)
    val dv = cat.createTable("db", "jdv", schema,
      props = morProps ++ Map("format-version" -> "3", "write.delete.format" -> "dv"))
      .append(df(sixRows: _*)).delete(col("id") === 2).delete(col("id") === 4)
    val eq = cat.createTable("db", "jeq", schema, props = morProps)
      .append(df(sixRows: _*))
      .addEqualityDeletes(df((2, "x", 0.0)).select("id"), Seq("id"))
      .addEqualityDeletes(df((4, "x", 0.0)).select("id"), Seq("id"))
    // past 32 data files a path-list read would run a listing job
    val wpos = cat.createTable("db", "jwpos", schema, props = morProps)
      .append(wideRows).delete(col("id") === 2).delete(col("id") === 4)
    val wdv = cat.createTable("db", "jwdv", schema,
      props = morProps ++ Map("format-version" -> "3", "write.delete.format" -> "dv"))
      .append(wideRows).delete(col("id") === 2).delete(col("id") === 4)
    assert(pos.deleteFiles.count(_.kind == "position") == 2)
    assert(dv.deleteFiles.count(_.kind == "dv") == 2)
    assert(eq.deleteFiles.count(_.kind == "equality") == 2)
    assert(wpos.dataFiles.size >= 33 && wdv.dataFiles.size >= 33)
    assert(wpos.deleteFiles.count(_.kind == "position") == 2)
    assert(wdv.deleteFiles.count(_.kind == "dv") == 2)
    val sql = new LakeSql(cat)
    def jobsToBuild(build: => DataFrame): Int =
      jobsDuring(build.queryExecution.executedPlan)
    val wide = (1 to 66).filterNot(Set(2, 4))
    for ((t, want) <- Seq(pos -> Seq(1, 3, 5, 6), dv -> Seq(1, 3, 5, 6),
        eq -> Seq(1, 3, 5, 6), wpos -> wide, wdv -> wide)) {
      assert(jobsToBuild(t.read()) == 0, s"${t.name}: LakeTable.read")
      assert(jobsToBuild(sql.run(s"SELECT id, amount FROM ${t.name}")) == 0,
        s"${t.name}: LakeSql SELECT")
      assert(ids(t) == want, t.name)
    }
  }

  test("a MoR DELETE runs only the fan-out shuffle and the write: no " +
    "listing, sampling or count job, position deletes and DVs") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val pos = cat.createTable("db", "djpos", schema, props = morProps)
      .append(wideRows)
    val dv = cat.createTable("db", "djdv", schema,
      props = morProps ++ Map("format-version" -> "3", "write.delete.format" -> "dv"))
      .append(wideRows)
    for (t0 <- Seq(pos, dv)) {
      assert(t0.dataFiles.size >= 33, t0.name)
      var t = t0
      val jobs = jobsDuring { t = t0.delete(col("id") % 5 === 0) }
      assert(jobs <= 2, s"${t0.name}: $jobs jobs")
      assert(t.deleteFiles.nonEmpty && t.deleteFiles.map(_.rowCount).sum == 13, t0.name)
      assert(ids(t) == (1 to 66).filterNot(_ % 5 == 0), t0.name)
    }
  }

  test("write bookkeeping from footers: recorded row counts equal the " +
    "files' rows, no zero-row file is kept, a zeroed size still reads") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val v2 = cat.createTable("db", "bk2", schema, Seq("category"), morProps)
    val v3 = cat.createTable("db", "bk3", schema, Seq("category"),
      morProps ++ Map("format-version" -> "3", "write.delete.format" -> "dv"))
    for (t0 <- Seq(v2, v3)) {
      val t = t0.append(wideRows)
        .delete(col("id") % 7 === 0)
        .update(Map("amount" -> lit(-1.0)), col("id") % 4 === 0)
        .delete(col("category") === "b" && col("id") > 40)
        .consolidatePositionDeletes()._1
      assert(t.deleteFiles.size == 1, t.name)
      val want = (1 to 66).filterNot(i => i % 7 == 0 || (i % 3 == 1 && i > 40))
      assert(ids(t) == want, t.name)
      for (f <- t.meta.snapshots.flatMap(_.dataFiles).distinctBy(_.path))
        assert(f.rowCount == spark.read.parquet(f.path).count(), f.path)
      for (f <- t.meta.snapshots.flatMap(_.deleteFiles).distinctBy(_.path)) {
        val rows = spark.read.parquet(f.path)
        val n = if (f.kind == "dv") rows.agg(sum("cnt")).head().getLong(0) else rows.count()
        assert(f.rowCount == n, f.path)
      }
      for (dir <- Seq("data", "deletes"); p <- LakeTable.listParquetFiles(t.location.resolve(dir)))
        assert(spark.read.parquet(p.toString).count() > 0, s"zero-row file $p")
      // sizes not recorded: every file is stat'ed on the driver instead
      val zeroed = new LakeTable(spark, t.location, t.meta.copy(
        snapshots = t.meta.snapshots.map(s =>
          s.copy(dataFiles = s.dataFiles.map(_.copy(sizeBytes = 0L))))))
      assert(zeroed.dataFiles.forall(_.sizeBytes == 0L))
      assert(zeroed.read().orderBy("id").collect().toSeq ==
        t.read().orderBy("id").collect().toSeq, t.name)
    }
  }

  test("strict reader rejects v2 tables with live delete files (README.md:5-7)") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "t4", schema, props = morProps)
      .append(df(sixRows: _*)).delete(col("id") === 1)
    assertThrows[UnsupportedV2DeletesException](t.read(strict = true))
    // non-strict read fine; strict read fine before any delete
    assert(t.read().count() == 5)
  }

  test("MoR update rewrites matched rows in a delete-file + append commit") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "t5", schema, props = morProps)
      .append(df(sixRows: _*))
      .update(Map("amount" -> (col("amount") * 2)), col("category") === "a")
    val got = t.read().select("id", "amount").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got == Map(1 -> 20.0, 2 -> 40.0, 3 -> 30.0, 4 -> 40.0, 5 -> 50.0, 6 -> 60.0))
    assert(t.deleteFiles.nonEmpty)
    assert(t.currentSnapshot.get.operation == "update")
  }

  test("CoW delete/update rewrite only affected files, no delete files") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t0 = cat.createTable("db", "t6", schema, Seq("category")) // default CoW
      .append(df(sixRows: _*))
    val untouched = t0.dataFiles.filter(_.partitionValues("category") != "a")
    val t1 = t0.delete(col("id") === 1)
    assert(ids(t1) == Seq(2, 3, 4, 5, 6))
    assert(t1.deleteFiles.isEmpty)
    // files for categories b and c carried over byte-identical
    assert(untouched.map(_.path).toSet.subsetOf(t1.dataFiles.map(_.path).toSet))
    val t2 = t1.update(Map("amount" -> lit(99.0)), col("id") === 3)
    assert(t2.read().filter(col("id") === 3).select("amount")
      .head().getDouble(0) == 99.0)
    assert(t2.deleteFiles.isEmpty)
  }

  test("update that changes the partition column moves rows across partitions") {
    val cat = freshCatalog(); cat.createNamespace("db")
    for ((name, props) <- Seq("pm_mor" -> morProps, "pm_cow" -> Map.empty[String, String])) {
      val t = cat.createTable("db", name, schema, Seq("category"), props)
        .append(df(sixRows: _*))
        .update(Map("category" -> lit("z")), col("id") === 1)
      // the moved row is visible with its new partition value…
      assert(t.read().filter(col("id") === 1).head().getString(1) == "z")
      // …found by pruning on the new partition, absent from the old one
      val inZ = t.read(partitionFilter = pv => pv.get("category").contains("z"))
        .select("id").collect().map(_.getInt(0)).toSeq
      assert(inZ == Seq(1), s"$name: $inZ")
      val inA = t.read(partitionFilter = pv => pv.get("category").contains("a"))
        .select("id").collect().map(_.getInt(0)).sorted.toSeq
      assert(inA == Seq(2), s"$name: $inA")
    }
  }

  test("zero-match DML is a no-op commit and leaves no orphan delete files") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "t7", schema, props = morProps)
      .append(df(sixRows: _*))
    val before = t.meta.snapshots.size
    val t2 = t.delete(col("id") === 999)
    assert(t2.meta.snapshots.size == before)
    val delDir = t.location.resolve("deletes")
    assert(LakeTable.listParquetFiles(delDir).isEmpty)
    // CoW flavor
    val cowT = cat.createTable("db", "t7c", schema).append(df(sixRows: _*))
    assert(cowT.delete(col("id") === 999).meta.snapshots.size == 1)
  }

  test("equality deletes hide only rows from older data files (sequence scoping)") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t0 = cat.createTable("db", "t8", schema, props = morProps)
      .append(df((1, "a", 10.0), (2, "a", 20.0)))
    val t1 = t0.addEqualityDeletes(df((1, "a", 0.0)).select("id"), Seq("id"))
    assert(ids(t1) == Seq(2))
    // re-insert id=1 AFTER the delete: the new row must stay visible
    val t2 = t1.append(df((1, "a", 11.0)))
    assert(ids(t2) == Seq(1, 2))
    assert(t2.read().filter(col("id") === 1).head().getDouble(2) == 11.0)
    // empty equality-delete set: no commit
    val t3 = t2.addEqualityDeletes(df().limit(0).select("id"), Seq("id"))
    assert(t3.meta.snapshots.size == t2.meta.snapshots.size)
  }

  test("insert-only MERGE leaves matched rows untouched (CoW and MoR)") {
    for (props <- Seq(Map.empty[String, String], morProps)) {
      val cat = freshCatalog(); cat.createNamespace("db")
      val t0 = cat.createTable("db", "iom", schema, props = props)
        .append(df((1, "a", 10.0), (2, "b", 20.0)))
      // source multi-matches target id=1 AND has no WHEN MATCHED action:
      // legal insert-only merge — no cardinality error, no lost rows
      val src = df((1, "a", 99.0), (1, "a", 98.0), (3, "c", 30.0))
      val t1 = t0.merge(src, col("t.id") === col("s.id"),
        whenMatched = None, insertNotMatched = true)
      val got = t1.read().collect()
        .map(r => (r.getInt(0), r.getDouble(2))).toSet
      assert(got == Set((1, 10.0), (2, 20.0), (3, 30.0)),
        s"mor=${props.nonEmpty}: matched rows must survive, got $got")
    }
  }

  test("partition values with '+' survive the path round-trip") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "plus", schema, Seq("category"))
      .append(df((1, "a+b", 1.0), (2, "plain", 2.0)))
    val pv = t.dataFiles.flatMap(_.partitionValues.get("category")).toSet
    assert(pv == Set("a+b", "plain"), s"recorded $pv") // not "a b"
    assert(t.read(partitionFilter = _.get("category").forall(_ == "a+b"))
      .count() == 1)
  }

  test("unknown assignment / equality-delete columns fail loudly") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "val", schema, props = morProps)
      .append(df((1, "a", 1.0)))
    intercept[IllegalArgumentException] {
      t.update(Map("amonut" -> lit(2.0)), col("id") === 1) // typo
    }
    // case-insensitive resolution (Spark SQL default) still works
    val up = t.update(Map("AMOUNT" -> lit(5.0)), col("id") === 1)
    assert(up.read().head().getDouble(2) == 5.0)
    intercept[IllegalArgumentException] {
      up.addEqualityDeletes(df((1, "a", 0.0)).select(col("id").as("idd")), Seq("idd"))
    }
  }

  test("an orphaned metadata version file is adopted, not a permanent brick") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "orph", schema).append(df((1, "a", 1.0)))
    // simulate a writer that died between CREATE_NEW and the hint move:
    // a valid vN+1 file exists, hint still points at vN
    val loc = t.location
    val v = Meta.currentVersion(loc).get
    val orphanMeta = t.meta.copy(props = t.meta.props + ("orphan-marker" -> "yes"))
    java.nio.file.Files.write(
      Meta.metadataDir(loc).resolve(s"v${v + 1}.metadata.json"),
      Meta.toJson(orphanMeta).getBytes("UTF-8"))
    // the next commit adopts the orphan and retries on top of it
    val t2 = t.reloaded().append(df((2, "b", 2.0)))
    assert(t2.read().count() == 2)
    assert(t2.meta.props.get("orphan-marker").contains("yes"),
      "the durably-written orphan commit must become part of history")
    assert(Meta.currentVersion(loc).get == v + 2)
  }

  test("a TORN orphan version file is never adopted (reads keep working)") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "torn", schema).append(df((1, "a", 1.0)))
    val loc = t.location
    val v = Meta.currentVersion(loc).get
    // a writer (external/pre-fix) died mid-write: vN+1 is truncated JSON.
    // Adopting it would flip a conflict (reads at vN fine) into a table
    // where every load parse-fails — adoption must be parse-gated.
    java.nio.file.Files.write(
      Meta.metadataDir(loc).resolve(s"v${v + 1}.metadata.json"),
      """{"name": "db.torn", "tableType": "LA""".getBytes("UTF-8"))
    val ex = intercept[CommitConflictException] {
      t.reloaded().append(df((2, "b", 2.0)))
    }
    assert(ex.getMessage.contains("concurrent commit"))
    assert(Meta.currentVersion(loc).get == v, "hint must not move to garbage")
    assert(t.reloaded().read().count() == 1, "reads at vN must keep working")
  }

  test("null-count stats: IS NULL skips null-free files, IS NOT NULL skips " +
    "all-null files, and readPruned proves it by vaporizing skipped files") {
    val cat = freshCatalog(); cat.createNamespace("db")
    def dfAmt(rows: (Int, java.lang.Double)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (i, a) => Row(i, "x", a) }, 1),
        schema)
    val t = cat.createTable("db", "nulls", schema)
      .append(dfAmt(1 -> 1.0, 2 -> 2.0))            // null-free
      .append(dfAmt(3 -> null, 4 -> null))          // all-null
      .append(dfAmt(5 -> 5.0, 6 -> null))           // mixed
    // snapshots carry cumulative listings; the three appended files are
    // the live set in row-id order
    val Seq(fFull, fNull, fMix) = t.dataFiles.sortBy(_.firstRowId)

    import org.apache.spark.sql.sources.{IsNotNull, IsNull}
    val onlyNulls = StatsPruning.filePredicate(schema, Seq(IsNull("amount")))
    assert(!onlyNulls(fFull), "IS NULL must skip the null-free file")
    assert(onlyNulls(fNull) && onlyNulls(fMix))
    val nonNulls = StatsPruning.filePredicate(schema, Seq(IsNotNull("amount")))
    assert(!nonNulls(fNull), "IS NOT NULL must skip the all-null file")
    assert(nonNulls(fFull) && nonNulls(fMix))

    // vaporized-file proof: the skipped file is DELETED from disk, so a
    // correct answer is only possible if pruning truly never opens it
    java.nio.file.Files.delete(java.nio.file.Paths.get(fFull.path))
    val got = t.readPruned(Seq(IsNull("amount")))
      .filter(col("amount").isNull).select("id")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(3, 4, 6))
  }

  test("null counts accumulate for min/max-INELIGIBLE types too: IS NULL / " +
    "IS NOT NULL skip on a DECIMAL column while its bounds stay unread " +
    "(ADVICE r8: the count only needs the column name)") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val decSchema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("price", DecimalType(10, 2))))
    def dfDec(rows: (Int, String)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (i, p) =>
          Row(i, Option(p).map(new java.math.BigDecimal(_)).orNull) }, 1),
        decSchema)
    val t = cat.createTable("db", "decn", decSchema)
      .append(dfDec(1 -> "1.50", 2 -> "2.25"))  // null-free
      .append(dfDec(3 -> null, 4 -> null))      // all-null
    val Seq(fFull, fNull) = t.dataFiles.sortBy(_.firstRowId)
    // decimal min/max stay uninterpreted (scale semantics) — only the
    // null count is recorded
    assert(t.dataFiles.forall(f => !f.stats.get("price").exists(_.bounded)))
    import org.apache.spark.sql.sources.{IsNotNull, IsNull}
    val onlyNulls = StatsPruning.filePredicate(decSchema, Seq(IsNull("price")))
    assert(!onlyNulls(fFull), "IS NULL must skip the null-free decimal file")
    assert(onlyNulls(fNull))
    val nonNull = StatsPruning.filePredicate(decSchema, Seq(IsNotNull("price")))
    assert(!nonNull(fNull), "IS NOT NULL must skip the all-null decimal file")
    assert(nonNull(fFull))
  }

  test("DELETE covering whole identity partitions is metadata-only: files " +
    "drop with no scan, no rewrite, no delete files") {
    val cat = freshCatalog(); cat.createNamespace("db")
    for ((name, props) <- Seq("md_cow" -> Map.empty[String, String],
                              "md_mor" -> morProps)) {
      val t0 = cat.createTable("db", name, schema, Seq("category"), props)
        .append(df((1, "a", 1.0), (2, "b", 2.0), (3, "b", 3.0), (4, "c", 4.0)))
      val before = t0.dataFiles.map(_.path).toSet
      val bPaths = t0.dataFiles
        .filter(_.partitionValues.get("category").contains("b")).map(_.path).toSet
      assert(bPaths.nonEmpty)

      val t1 = t0.delete(col("category") === "b")
      assert(t1.meta.snapshots.last.summary.get("metadata-delete").contains("true"),
        s"$name: partition-covering DELETE must take the metadata path")
      assert(t1.deleteFiles.isEmpty, s"$name: no delete files on the metadata path")
      assert(t1.dataFiles.map(_.path).toSet == before -- bPaths,
        s"$name: surviving files must be the untouched originals")
      assert(ids(t1) == Seq(1, 4))

      // a conjunct outside the partition proof falls back to row-level
      val t2 = t1.delete(col("category") === "a" && col("id") === 1)
      assert(!t2.meta.snapshots.last.summary.get("metadata-delete").contains("true"),
        s"$name: partial-file DELETE must not claim the metadata path")
      assert(ids(t2) == Seq(4))
    }

    // NULL partition rows render as the ambiguous hive-default token:
    // partition pruning keeps that file conservatively, the proof can
    // never claim it, and the DELETE falls back to row-level — never a
    // swept-away null row
    val tn = cat.createTable("db", "md_null", schema, Seq("category"))
      .append(df((1, "b", 1.0))).append(dfNullCat(2, 2.0))
    val t3 = tn.delete(col("category") === "b")
    assert(!t3.meta.snapshots.last.summary.get("metadata-delete").contains("true"),
      "an ambiguous hive-default partition must forfeit the metadata path")
    assert(ids(t3) == Seq(2), "the null-partition row must survive")
  }

  test("upsertByKey is refused on a copy-on-write table") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "cowup", schema) // CoW by default
      .append(df((1, "a", 1.0)))
    val ex = intercept[IllegalStateException] {
      t.upsertByKey(df((1, "a", 2.0)), Seq("id"))
    }
    assert(ex.getMessage.contains("merge-on-read"))
    assert(t.reloaded().deleteFiles.isEmpty)
  }

  test("upsertByKey: one commit, no target read, converges on redelivery") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t0 = cat.createTable("db", "ups", schema, props = morProps)
      .append(df((1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)))
    val batch = df((2, "a", 21.0), (4, "c", 40.0)) // update id=2, insert id=4
    val t1 = t0.upsertByKey(batch, Seq("id"))

    // exactly one snapshot: data files + equality-delete file together
    assert(t1.meta.snapshots.size == t0.meta.snapshots.size + 1)
    assert(t1.deleteFiles.count(_.kind == "equality") == 1)
    assert(ids(t1) == Seq(1, 2, 3, 4))
    assert(t1.read().filter(col("id") === 2).head().getDouble(2) == 21.0)
    // prior state stays time-travelable
    val prev = t1.readSnapshot(t0.meta.snapshots.last.id)
    assert(prev.filter(col("id") === 2).head().getDouble(2) == 20.0)

    // redelivered batch converges by value: same rows, one more snapshot
    val t2 = t1.upsertByKey(batch, Seq("id"))
    assert(ids(t2) == Seq(1, 2, 3, 4))
    assert(t2.read().filter(col("id") === 2).collect().map(_.getDouble(2)).toSeq
      == Seq(21.0))

    // compaction materializes the merged state and clears delete files
    val t3 = Procedures.rewriteDataFiles(t2).table
    assert(t3.deleteFiles.isEmpty)
    assert(ids(t3) == Seq(1, 2, 3, 4))
    assert(t3.read().filter(col("id") === 2).head().getDouble(2) == 21.0)
  }

  test("N equality-delete files collapse to one anti-join per column set") {
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "eqn", schema, props = morProps)
      .append(df((1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)))
    // two id-deletes at different sequences, interleaved with appends so
    // the strictly-older rule stays observable per file
    t = t.addEqualityDeletes(df((1, "x", 0.0)).select("id"), Seq("id"))
    t = t.append(df((1, "a", 11.0), (4, "c", 40.0)))        // id=1 re-insert survives
    t = t.addEqualityDeletes(df((2, "x", 0.0)).select("id"), Seq("id"))
    // a third delete on a DIFFERENT column set
    t = t.addEqualityDeletes(df((0, "b", 0.0)).select("category"), Seq("category"))
    assert(ids(t) == Seq(1, 4))
    assert(t.read().filter(col("id") === 1).head().getDouble(2) == 11.0)
    // 3 equality files, 2 column sets → exactly 2 anti-joins in the plan
    assert(t.deleteFiles.count(_.kind == "equality") == 3)
    val plan = t.read().queryExecution.executedPlan.toString
    val antiJoins = "LeftAnti".r.findAllIn(plan).size
    assert(antiJoins == 2, s"expected 2 anti-joins (one per column set):\n$plan")
    // re-deleting id=1 at a later sequence hides the re-insert too
    // (max-sequence reduction must keep the newest delete per key)
    t = t.addEqualityDeletes(df((1, "x", 0.0)).select("id"), Seq("id"))
    assert(ids(t) == Seq(4))
  }

  test("v3 row lineage: ids assigned on append, preserved across update") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t0 = cat.createTable("db", "t9", schema,
      props = morProps + ("format-version" -> "3"))
      .append(df(sixRows: _*))
    val before = t0.readWithRowIds().select("id", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(before.values.toSeq.sorted == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    // update must preserve the lineage id of rewritten rows (ADVICE r1)
    val t1 = t0.update(Map("amount" -> lit(0.0)), col("id") === 2)
    val after = t1.readWithRowIds().select("id", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(after == before)
    assert(t1.meta.nextRowId == 6) // no new ids minted by the update
    // appends continue from the high-water mark
    val t2 = t1.append(df((7, "d", 70.0)))
    assert(t2.readWithRowIds().filter(col("id") === 7)
      .head().getAs[Long]("_row_id") == 6L)
  }

  test("warehouse path with space and %: full MoR arc, no silent data loss") {
    // VERDICT r3 #1: _metadata.file_path is percent-encoded while metadata
    // stores raw paths; before normPath decoded, every per-file count
    // lookup missed and writeDataFiles physically deleted fresh files.
    val wh = Files.createTempDirectory("graft wh%odd ")
    var ts = 1700000000000L
    val cat = new LakeCatalog(spark, wh, () => { ts += 1000; ts })
    cat.createNamespace("db")
    var t = cat.createTable("db", "odd", schema, Seq("category"),
      morProps + ("format-version" -> "3"))
      .append(df(sixRows: _*))
    assert(ids(t) == Seq(1, 2, 3, 4, 5, 6))
    assert(t.dataFiles.nonEmpty && t.dataFiles.forall(f =>
      Files.exists(java.nio.file.Paths.get(f.path))))
    t = t.delete(col("id") === 2)
    assert(ids(t) == Seq(1, 3, 4, 5, 6))
    t = t.update(Map("amount" -> lit(1.0)), col("id") === 3)
    assert(t.read().filter(col("id") === 3).head().getDouble(2) == 1.0)
    // fileAttrs broadcast joins (row lineage) must also match on the path
    assert(t.readWithRowIds().select("_row_id").distinct().count() == 5)
    // equality-delete sequence scoping joins through fileAttrs too
    t = t.addEqualityDeletes(df((4, "b", 0.0)).select("id"), Seq("id"))
    assert(ids(t) == Seq(1, 3, 5, 6))
    val r = Procedures.rewriteDataFiles(t, Map("rewrite-all" -> "true"))
    assert(ids(r.table) == Seq(1, 3, 5, 6))
    assert(r.table.deleteFiles.isEmpty)
  }

  test("file-level min/max stats skip files a range predicate excludes") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, IsNull}
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "sk", schema, props = morProps)
    t = t.append(df((1, "a", 1.0), (2, "a", 2.0)))     // file 1: id ∈ [1, 2]
    t = t.append(df((10, "b", 10.0), (11, "b", 11.0))) // file 2: id ∈ [10, 11]
    assert(t.dataFiles.size == 2)
    // bounds lifted from the parquet footers at write time
    assert(t.dataFiles.flatMap(_.stats.get("id")).map(s => (s.min, s.max)).toSet
      == Set(("1", "2"), ("10", "11")))
    assert(t.dataFiles.flatMap(_.stats.get("category")).map(s => (s.min, s.max)).toSet
      == Set(("a", "a"), ("b", "b")))
    val pruned = t.read(
      fileFilter = StatsPruning.filePredicate(schema, Seq(GreaterThan("id", 5))))
    assert(pruned.inputFiles.length == 1)
    assert(pruned.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 11))
    // string bounds prune too
    assert(t.read(fileFilter = StatsPruning.filePredicate(
      schema, Seq(EqualTo("category", "a")))).inputFiles.length == 1)
    // IS NULL is now decisive via footer null counts: no row of either
    // file has a null category, so both files skip (r8 null-count stats)
    assert(t.read(fileFilter = StatsPruning.filePredicate(
      schema, Seq(IsNull("category")))).inputFiles.isEmpty)
    // conservative: unsupported filter shapes never skip
    assert(t.read(fileFilter = StatsPruning.filePredicate(
      schema, Seq(org.apache.spark.sql.sources.StringStartsWith("category", "a"))))
      .inputFiles.length == 2)
  }

  test("stats pruning never changes results (random predicates property)") {
    import org.apache.spark.sql.sources._
    val cat = freshCatalog(); cat.createNamespace("db")
    val rnd = new scala.util.Random(11)
    var t = cat.createTable("db", "prop", schema, props = morProps)
    for (_ <- 0 until 4) { // several files with random, overlapping ranges
      val rows = (0 until 1 + rnd.nextInt(5)).map(_ =>
        (rnd.nextInt(100), s"c${rnd.nextInt(3)}", rnd.nextInt(50).toDouble))
      t = t.append(df(rows: _*))
    }
    val preds: Seq[(Filter, org.apache.spark.sql.Column)] = Seq.fill(12) {
      val v = rnd.nextInt(100)
      rnd.nextInt(4) match {
        case 0 => (GreaterThan("id", v), col("id") > v)
        case 1 => (LessThan("id", v), col("id") < v)
        case 2 => (EqualTo("id", v), col("id") === v)
        case 3 =>
          val c = s"c${rnd.nextInt(3)}"
          (EqualTo("category", c), col("category") === c)
      }
    }
    for ((f, c) <- preds) {
      val full = t.read().filter(c).collect().map(_.toString).sorted.toSeq
      val pruned = t.read(fileFilter = StatsPruning.filePredicate(schema, Seq(f)))
        .filter(c).collect().map(_.toString).sorted.toSeq
      assert(pruned == full, s"pruning changed results for $f")
    }
  }

  test("timestamp stats skip files on pushed time-range predicates") {
    import org.apache.spark.sql.sources.GreaterThan
    val tsSchema = StructType(Seq(
      StructField("id", IntegerType), StructField("ts", TimestampType)))
    def tsDf(rows: (Int, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, s) =>
        Row(i, java.sql.Timestamp.from(java.time.Instant.parse(s)))
      }, 1), tsSchema)
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "tsk", tsSchema)
    t = t.append(tsDf(1 -> "2026-01-01T00:00:00Z", 2 -> "2026-01-01T01:00:00Z"))
    t = t.append(tsDf(3 -> "2026-06-01T00:00:00Z", 4 -> "2026-06-01T01:00:00Z"))
    assert(t.dataFiles.flatMap(_.stats.get("ts")).size == 2,
      s"timestamp stats missing: ${t.dataFiles.map(_.stats)}")
    val cut = java.sql.Timestamp.from(java.time.Instant.parse("2026-03-01T00:00:00Z"))
    val pruned = t.read(fileFilter = StatsPruning.filePredicate(
      tsSchema, Seq(GreaterThan("ts", cut))))
    assert(pruned.inputFiles.length == 1)
    assert(pruned.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
  }

  test("partition-spec evolution: old files stay readable and conservatively pruned") {
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "pe", schema) // unpartitioned
      .append(df((1, "a", 1.0), (2, "b", 2.0)))
    val oldFiles = t.dataFiles.map(_.path).toSet
    t = t.setPartitionSpec(Seq("category"))
    assertThrows[IllegalArgumentException](t.setPartitionSpec(Seq("nope")))
    t = t.append(df((3, "a", 3.0), (4, "b", 4.0)))
    // new files carry partition values; pre-evolution files have none
    assert(t.dataFiles.filterNot(f => oldFiles.contains(f.path))
      .forall(_.partitionValues.contains("category")))
    assert(t.dataFiles.filter(f => oldFiles.contains(f.path))
      .forall(_.partitionValues.isEmpty))
    assert(ids(t) == Seq(1, 2, 3, 4))
    // conservative pruning (the DSv2 rule): unknown partition value → keep
    val pruned = t.read(partitionFilter = pv => pv.get("category").forall(_ == "a"))
    assert(pruned.inputFiles.length == oldFiles.size + 1)
    assert(pruned.filter(col("category") === "a").select("id")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  test("MERGE: one-commit upsert with lineage preserved and cardinality guard") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t0 = cat.createTable("db", "mg", schema,
      props = morProps + ("format-version" -> "3"))
      .append(df(sixRows: _*))
    val idsBefore = t0.readWithRowIds().select("id", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // upsert: update amount for ids 2 and 4, insert id 99
    val src = df((2, "a", 200.0), (4, "b", 400.0), (99, "z", 990.0))
    val t1 = t0.merge(src, col("t.id") === col("s.id"),
      Some(MergeMatched.Update(Map("amount" -> col("s.amount")))),
      insertNotMatched = true)
    val got = t1.read().collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(got == Map(1 -> 10.0, 2 -> 200.0, 3 -> 30.0, 4 -> 400.0,
      5 -> 50.0, 6 -> 60.0, 99 -> 990.0))
    assert(t1.currentSnapshot.get.operation == "merge")
    assert(t1.meta.snapshots.size == t0.meta.snapshots.size + 1) // one commit
    // updated rows keep their lineage ids; the insert minted a fresh one
    val idsAfter = t1.readWithRowIds().select("id", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(idsAfter(2) == idsBefore(2) && idsAfter(4) == idsBefore(4))
    assert(idsAfter(99) == 6L && t1.meta.nextRowId == 7L)
    // WHEN MATCHED DELETE + INSERT
    val t2 = t1.merge(df((99, "z", 0.0), (100, "q", 1.0)),
      col("t.id") === col("s.id"),
      Some(MergeMatched.Delete), insertNotMatched = true)
    assert(ids(t2).contains(100) && !ids(t2).contains(99))
    // ambiguous source (two rows match one target) must throw
    assertThrows[IllegalArgumentException](
      t2.merge(df((1, "a", 1.0), (1, "b", 2.0)), col("t.id") === col("s.id"),
        Some(MergeMatched.Update(Map("amount" -> col("s.amount"))))))
    // no-op merge commits nothing
    assert(t2.merge(df((777, "x", 0.0)), col("t.id") === col("s.id"),
      Some(MergeMatched.Delete)).meta.snapshots.size == t2.meta.snapshots.size)
  }

  test("MERGE on a copy-on-write table rewrites files, mints no delete files") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t0 = cat.createTable("db", "mgc", schema, Seq("category")) // CoW default
      .append(df(sixRows: _*))
    val untouched = t0.dataFiles.filter(_.partitionValues("category") == "c")
    val t1 = t0.merge(df((1, "a", 100.0), (7, "d", 70.0)),
      col("t.id") === col("s.id"),
      Some(MergeMatched.Update(Map("amount" -> col("s.amount")))),
      insertNotMatched = true)
    val got = t1.read().collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(got == Map(1 -> 100.0, 2 -> 20.0, 3 -> 30.0, 4 -> 40.0,
      5 -> 50.0, 6 -> 60.0, 7 -> 70.0))
    // the CoW invariant the strict-reader story depends on: no delete files
    assert(t1.deleteFiles.isEmpty)
    t1.read(strict = true).collect() // a strict v2 reader stays happy
    // only partition a's file was rewritten; c's carried over byte-identical
    assert(untouched.map(_.path).toSet.subsetOf(t1.dataFiles.map(_.path).toSet))
    // delete arm: matched rows vanish without delete files
    val t2 = t1.merge(df((2, "x", 0.0)), col("t.id") === col("s.id"),
      Some(MergeMatched.Delete))
    assert(ids(t2) == Seq(1, 3, 4, 5, 6, 7))
    assert(t2.deleteFiles.isEmpty)
  }

  test("schema evolution: add/drop column are metadata-only commits") {
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "ev", schema, Seq("category"), morProps)
      .append(df(sixRows: _*))
    val filesBefore = t.dataFiles.map(_.path).toSet
    t = t.addColumn("note", StringType)
    // old files are untouched; the scan null-fills the new column
    assert(t.dataFiles.map(_.path).toSet == filesBefore)
    assert(t.read().filter(col("note").isNull).count() == 6)
    assertThrows[IllegalArgumentException](t.addColumn("note", StringType))
    // new appends carry the column physically
    val wide = StructType(schema.fields :+ StructField("note", StringType))
    t = t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(7, "d", 70.0, "hi")), 1), wide))
    assert(t.read().filter(col("note") === "hi").count() == 1)
    assert(t.read().count() == 7)
    // guards: partition columns and unknown columns can't drop
    assertThrows[IllegalArgumentException](t.dropColumn("category"))
    assertThrows[IllegalArgumentException](t.dropColumn("nope"))
    t = t.dropColumn("note")
    assert(!t.schema.fieldNames.contains("note"))
    assert(t.read().columns.toSeq == schema.fieldNames.toSeq)
    assert(t.read().count() == 7)
  }

  test("column defaults (M46): initial fills pre-column rows, write fills " +
    "omitting writers, explicit NULL survives, compaction materializes") {
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "cd", schema, props = morProps)
      .append(df((1, "a", 10.0), (2, "a", 20.0)))
    // invalid literal fails at DDL time
    assertThrows[IllegalArgumentException](
      t.addColumn("score", IntegerType, Some("not-a-number")))
    t = t.addColumn("score", IntegerType, Some("7"))
    // initial-default: the two PRE-COLUMN rows read 7, not null
    assert(t.read().select("score").collect().map(_.getInt(0)).toSeq == Seq(7, 7))
    // write-default: an appender omitting the column lands 7 physically
    t = t.append(df((3, "b", 30.0)))
    assert(t.read().filter(col("id") === 3).head().getAs[Int]("score") == 7)
    // an explicitly-written NULL in a post-column file STAYS null
    val wide = StructType(schema.fields :+ StructField("score", IntegerType))
    t = t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(4, "b", 40.0, null)), 1), wide))
    val byId = t.read().collect()
      .map(r => r.getInt(0) -> Option(r.getAs[Any]("score"))).toMap
    assert(byId(1) == Some(7) && byId(2) == Some(7) && byId(3) == Some(7))
    assert(byId(4).isEmpty, s"explicit NULL must survive, got ${byId(4)}")
    // SET DEFAULT changes the WRITE default only: old rows keep 7
    t = t.setWriteDefault("score", "9")
    t = t.append(df((5, "c", 50.0)))
    val after = t.read().collect()
      .map(r => r.getInt(0) -> Option(r.getAs[Any]("score"))).toMap
    assert(after(5) == Some(9) && after(1) == Some(7) && after(4).isEmpty)
    // compaction materializes initial-defaults physically; reads are
    // unchanged afterwards (the steady state where the fill join skips)
    val compacted = Procedures.rewriteDataFiles(t).table
    val post = compacted.read().collect()
      .map(r => r.getInt(0) -> Option(r.getAs[Any]("score"))).toMap
    assert(post == after, s"compaction changed visible values: $post vs $after")
    // metadata round-trip: a reloaded handle keeps the defaults
    val reloaded = cat.loadTable("db", "cd").get
    assert(reloaded.meta.columnDefaults.map(_.colName) == Seq("score"))
    assert(reloaded.read().filter(col("id") === 1).head()
      .getAs[Int]("score") == 7)
    // dropping the column drops its default entry (persisting DDL — last)
    assert(compacted.dropColumn("score").meta.columnDefaults.isEmpty)
  }

  test("tags: named snapshot refs survive expiry and read by name") {
    val cat = freshCatalog(); cat.createNamespace("db")
    var t = cat.createTable("db", "tag", schema, props = morProps)
      .append(df(sixRows: _*))          // snapshot 1
    t = t.tagSnapshot("baseline", 1)
    assertThrows[IllegalArgumentException](t.tagSnapshot("baseline", 1))
    assertThrows[IllegalArgumentException](t.tagSnapshot("x", 99))
    t = t.delete(col("id") <= 3)        // snapshot 2
    t = t.append(df((7, "d", 70.0)))    // snapshot 3
    assert(t.readTag("baseline").count() == 6)
    // expiry must retain the tagged snapshot (and its files) even though
    // it is old enough to expire
    val r = Procedures.expireSnapshots(t, olderThanMs = Long.MaxValue, retainLast = 1)
    assert(r.table.meta.snapshots.map(_.id).sorted == Seq(1L, 3L)) // 2 expired
    assert(r.table.readTag("baseline").count() == 6)
    // dropping the tag releases it for future expiry
    val t2 = r.table.dropTag("baseline")
    val r2 = Procedures.expireSnapshots(t2, Long.MaxValue, retainLast = 1)
    assert(r2.table.meta.snapshots.map(_.id) == Seq(3L))
    assertThrows[IllegalArgumentException](r2.table.readTag("baseline"))
  }

  test("rollback restores a previous snapshot's content as a new commit") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t1 = cat.createTable("db", "rb", schema, props = morProps)
      .append(df(sixRows: _*))          // snapshot 1
    val t2 = t1.delete(col("id") <= 3)  // snapshot 2
    assert(ids(t2) == Seq(4, 5, 6))
    val t3 = t2.rollbackTo(1)
    assert(ids(t3) == Seq(1, 2, 3, 4, 5, 6))
    assert(t3.currentSnapshot.get.operation == "rollback")
    // history is preserved: the rolled-past state stays time-travelable
    assert(t3.meta.snapshots.size == 3)
    assert(t3.readSnapshot(2).count() == 3)
    assertThrows[IllegalArgumentException](t3.rollbackTo(99))
  }

  test("time travel: readSnapshot replays any retained state; history lists the log") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t1 = cat.createTable("db", "tt", schema, props = morProps)
      .append(df(sixRows: _*))                     // snapshot 1
    val t2 = t1.delete(col("id").isin(2, 4))       // snapshot 2 (MoR delete)
    val t3 = t2.append(df((7, "d", 70.0)))         // snapshot 3
    assert(ids(t3) == Seq(1, 3, 5, 6, 7))
    // each retained snapshot replays exactly, deletes scoped per snapshot
    assert(t3.readSnapshot(1).select("id").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2, 3, 4, 5, 6))
    assert(t3.readSnapshot(2).select("id").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 3, 5, 6))
    assert(t3.readSnapshot(3).count() == 5)
    val bad = intercept[IllegalArgumentException](t3.readSnapshot(99))
    assert(bad.getMessage.contains("no snapshot 99"))
    // history projection: ordered log with operations and summaries
    val h = t3.history().collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(h.map(_.getString(2)).toSeq == Seq("append", "delete", "append"))
    assert(h(1).getString(4).contains("deleted-records=2"))
  }

  test("branches: write-audit-publish — branch DML is invisible on main " +
    "until fastForward; heads survive expiry; lineage stays unique") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t1 = cat.createTable("db", "wap", schema, props = morProps)
      .append(df(sixRows: _*))                 // snapshot 1 (main)
    val t2 = t1.createBranch("audit")
    val b = t2.onBranch("audit")
      .append(df((7, "d", 70.0)))              // snapshot 2 (branch)
      .delete(col("id") === 1)                 // snapshot 3 (branch)
    // audit writes are fully isolated from main readers
    assert(ids(b) == Seq(2, 3, 4, 5, 6, 7))
    val mainView = cat.loadTable("db", "wap").get
    assert(ids(mainView) == Seq(1, 2, 3, 4, 5, 6),
      "main must not see unpublished branch commits")
    assert(mainView.readBranch("audit").select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4, 5, 6, 7))
    // branches round-trip the metadata JSON (boxed-Integer normalization)
    assert(mainView.meta.branches == Map("audit" -> 3L))
    // publish: main pointer moves to the branch head, history retained
    val published = mainView.fastForward("audit")
    assert(ids(published) == Seq(2, 3, 4, 5, 6, 7))
    assert(published.readSnapshot(1).count() == 6,
      "pre-publish state stays time-travelable")
    // the changelog follows LINEAGE across the publish: (1, head] yields
    // the branch's append, not a log-order mixture
    assert(published.readIncremental(Some(1L), 3L, skipNonAppends = true)
      .select("id").collect().map(_.getInt(0)).toSeq == Seq(7))
    // branch heads are expiry-protected like tags
    val expired = Procedures.expireSnapshots(
      published.dropBranch("audit").createBranch("keep", Some(2L)),
      olderThanMs = Long.MaxValue, retainLast = 1).table
    assert(expired.meta.snapshots.map(_.id).sorted == Seq(2L, 3L),
      s"branch head 2 must survive expiry: ${expired.meta.snapshots.map(_.id)}")
    // misuse fails by name
    assertThrows[IllegalArgumentException](expired.onBranch("nope"))
    assertThrows[IllegalArgumentException](expired.createBranch("keep"))
    assertThrows[IllegalArgumentException](expired.dropBranch("gone"))
  }

  test("incremental read: (from, to] append diffs; replace skipped; " +
    "mutations throw unless skipped; expired bounds error clearly") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t1 = cat.createTable("db", "inc", schema, props = morProps)
      .append(df(sixRows: _*))               // snapshot 1
    val t2 = t1.append(df((7, "d", 70.0), (8, "d", 80.0))) // snapshot 2
    def incIds(t: LakeTable, from: Option[Long], to: Long,
        skip: Boolean = false): Seq[Int] =
      t.readIncremental(from, to, skip)
        .select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(incIds(t2, Some(1L), 2L) == Seq(7, 8))
    assert(incIds(t2, None, 2L) == Seq(1, 2, 3, 4, 5, 6, 7, 8))
    assert(incIds(t2, Some(2L), 2L) == Nil) // empty range
    // compaction is a 'replace' snapshot: no logical rows added
    val t3 = Procedures.rewriteDataFiles(
      t2, Map("rewrite-all" -> "true")).table // snapshot 3
    assert(t3.currentSnapshot.get.operation == "replace")
    assert(incIds(t3, Some(2L), 3L) == Nil)
    assert(incIds(t3, Some(1L), 3L) == Seq(7, 8))
    // a delete snapshot cannot be expressed as appends: throw, or skip
    val t4 = t3.delete(col("id") === 7)      // snapshot 4
    val e = intercept[UnsupportedOperationException](
      t4.readIncremental(Some(1L), 4L).collect())
    assert(e.getMessage.contains("'delete' commit"))
    assert(incIds(t4, Some(1L), 4L, skip = true) == Seq(7, 8))
    // appended rows are emitted as-appended: the later delete of id=7
    // inside the range is not applied to the feed (documented semantics)
    val t5 = t4.append(df((9, "e", 90.0)))   // snapshot 5
    assert(incIds(t5, Some(3L), 5L, skip = true) == Seq(9))
    // unknown/expired endpoints must fail loudly, never feed a gap
    val bad = intercept[IllegalArgumentException](
      t5.readIncremental(Some(77L), 5L))
    assert(bad.getMessage.contains("expire_snapshots retention"))
    // swapped bounds are not a lineage, not an empty feed
    val inv = intercept[IllegalArgumentException](
      t5.readIncremental(Some(5L), 1L))
    assert(inv.getMessage.contains("not an ancestor"))
  }

  test("incremental read survives retention truncation: a non-append " +
    "earliest snapshot emits its full state, never an empty feed") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t1 = cat.createTable("db", "trunc", schema, props = morProps)
      .append(df(sixRows: _*))                       // snapshot 1
    val t2 = Procedures.rewriteDataFiles(
      t1, Map("rewrite-all" -> "true")).table        // snapshot 2: replace
    val t3 = Procedures.expireSnapshots(
      t2, olderThanMs = Long.MaxValue, retainLast = 1).table
    assert(t3.meta.snapshots.map(_.id) == Seq(2L))
    // the replace head's own listing IS the earliest reconstructable
    // state — before r7's review fix this returned an empty feed
    assert(t3.readIncremental(None, 2L).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3, 4, 5, 6))
    // a truncation head carrying MoR delete files cannot be expressed as
    // appends: loud failure pointing at compaction, not overfeeding
    val d1 = cat.createTable("db", "truncd", schema, props = morProps)
      .append(df(sixRows: _*))                       // snapshot 1
      .delete(col("id") === 1)                       // snapshot 2 + deletes
    val d2 = Procedures.expireSnapshots(
      d1, olderThanMs = Long.MaxValue, retainLast = 1).table
    val e = intercept[UnsupportedOperationException](
      d2.readIncremental(None, 2L, skipNonAppends = true))
    assert(e.getMessage.contains("delete files"))
  }

  test("pre-parentId metadata JSON is repaired to the id-order lineage") {
    // a pre-r7 table: snapshots persisted without parent pointers must
    // not all become lineage roots (that would break every incremental
    // range and checkpointed stream on upgrade)
    val snaps = (1L to 3L).map(i => Snapshot(i, 1000 * i, "append",
      Seq(DataFileMeta(s"/f$i.parquet", rowCount = 1))))
    val m = TableMetadata(name = "db.old", schemaDdl = "id INT",
      snapshots = snaps, currentSnapshotId = 3L)
    val round = Meta.fromJson(Meta.toJson(m))
    assert(round.snapshots.map(_.parentId) == Seq(-1L, 1L, 2L))
    // post-upgrade metadata (any parent set) is left untouched
    val mixed = m.copy(snapshots =
      snaps.init :+ snaps.last.copy(parentId = 2L))
    assert(Meta.fromJson(Meta.toJson(mixed)).snapshots.map(_.parentId)
      == Seq(-1L, -1L, 2L))
  }

  test("Meta.commit bumps versions atomically and detects collisions") {
    val loc = Files.createTempDirectory("graft-meta")
    val m = TableMetadata(name = "x.y", schemaDdl = "id INT")
    Meta.commit(loc, m)
    assert(Meta.currentVersion(loc).contains(1))
    Meta.commit(loc, m.copy(formatVersion = 3))
    assert(Meta.currentVersion(loc).contains(2))
    assert(Meta.load(loc).get.formatVersion == 3)
    // simulate a racing writer that already wrote v3
    Files.write(Meta.metadataDir(loc).resolve("v3.metadata.json"),
      "{}".getBytes("UTF-8"))
    assertThrows[IllegalStateException](Meta.commit(loc, m))
  }

  test("stale handle commits: appends rebase, state-dependent DML is rejected") {
    val wh = Files.createTempDirectory("graft-cas-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val schema = StructType(Seq(StructField("id", IntegerType)))
    cat.createTable("db", "cas", schema,
      props = Map("write.delete.mode" -> "merge-on-read"))
    def rows(ids: Int*) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(Row(_)), 1), schema)
    // two independent handles of the same table
    val a = cat.loadTable("db", "cas").get
    val b = cat.loadTable("db", "cas").get
    val a2 = a.append(rows(1))
    // b is stale, but an append reads no table state: it REBASES onto the
    // fresh metadata (data files reused, lineage/sequence re-stamped) and
    // lands WITHOUT dropping a's commit — Iceberg's append-retry rule
    val b2 = b.append(rows(2))
    assert(b2.read().collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(b2.meta.snapshots.size == 2, "rebase must not replace a's snapshot")
    // state-DEPENDENT DML from a stale handle still hard-fails: a2's
    // delete coordinates were planned against a world b2 has outrun
    val e = intercept[CommitConflictException](a2.delete(col("id") === 1))
    assert(e.getMessage.contains("reload"))
    // reload-and-retry converges
    val c = cat.loadTable("db", "cas").get.delete(col("id") === 1)
    assert(c.read().collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("metadata JSON is O(snapshot headers): 100-commit loop, manifests carry files") {
    // VERDICT r3 missing #1: commit cost must not be O(snapshots × files).
    val loc = Files.createTempDirectory("graft-manifests")
    def fakeFiles(snap: Int) = (0 until 10).map(j => DataFileMeta(
      path = s"/data/part-$snap-$j-${"x" * 40}.parquet", rowCount = 100,
      sizeBytes = 1 << 20, dataSequenceNumber = snap))
    var m = TableMetadata(name = "db.big", schemaDdl = "id INT")
    for (i <- 1 to 100) {
      val snap = Snapshot(i, 1700000000000L + i, "append",
        dataFiles = m.currentSnapshot.map(_.dataFiles).getOrElse(Nil) ++ fakeFiles(i),
        sequenceNumber = i)
      m = Meta.commit(loc, m.copy(snapshots = m.snapshots :+ snap,
        currentSnapshotId = i, lastSequenceNumber = i))
    }
    // the committed metadata JSON holds no file listings at all…
    val metaJson = new String(Files.readAllBytes(
      Meta.metadataDir(loc).resolve("v100.metadata.json")), "UTF-8")
    assert(!metaJson.contains(".parquet"), "file listing leaked into metadata JSON")
    // …and grows only by a fixed-size header per commit, not by file count
    def sz(v: Int) = Files.size(Meta.metadataDir(loc).resolve(s"v$v.metadata.json"))
    val headerGrowth = sz(100) - sz(99)
    assert(headerGrowth < 600, s"per-commit metadata growth $headerGrowth bytes")
    // snapshot 100 carries 1000 files; its header must stay fixed-size
    assert(sz(100) < 60000, s"metadata JSON ${sz(100)} bytes is not header-only")
    // loading materializes the full listing back through the manifests
    val loaded = Meta.load(loc).get
    assert(loaded.currentSnapshot.get.dataFiles.size == 1000)
    assert(loaded.snapshots.size == 100)
    assert(loaded.snapshots.forall(_.manifestPath.isDefined))
  }

  test("catalog: create/load/list/drop + foreign table filtering (S2/S3/S5/S6)") {
    val cat = freshCatalog(); cat.createNamespace("db")
    cat.createTable("db", "lake1", schema, props = Map("format-version" -> "2"))
    cat.registerForeignTable("db", "hive1", "HIVE")
    assertThrows[IllegalArgumentException](
      cat.createTable("db", "lake1", schema)) // already exists
    val infos = cat.listTables("db")
    assert(infos.map(_.name).sorted == Seq("hive1", "lake1"))
    // the upgrade driver's client-side filter (P6): only LAKE tables
    assert(infos.filter(_.tableType == "LAKE").map(_.name) == Seq("lake1"))
    assert(infos.find(_.name == "hive1").get.formatVersion == "UNKNOWN")
    assert(cat.loadTable("db", "lake1").get.meta.formatVersion == 2)
    assert(cat.dropTable("db", "lake1"))
    assert(!cat.tableExists("db", "lake1"))
    assert(!cat.dropTable("db", "lake1")) // idempotent with ifExists
    assertThrows[IllegalArgumentException](
      cat.dropTable("db", "lake1", ifExists = false))
  }

  test("catalog listings and grants load headers only, without manifest reads") {
    val cat = freshCatalog(); cat.createNamespace("db")
    val t = cat.createTable("db", "h1", schema).append(df(sixRows: _*))
    val headers = Meta.loadHeaders(t.location).get
    assert(headers.snapshots.nonEmpty)
    assert(headers.snapshots.forall(s =>
      s.dataFiles.isEmpty && s.manifestPath.isDefined))
    // the grant round-trip goes through header-only load + commit and
    // must not lose the file listing the manifests carry
    cat.grant("db", "h1", "p", Seq("SELECT"))
    assert(cat.grantsFor("db", "h1", "p") == Seq("SELECT"))
    assert(cat.tableInfo("db", "h1").get.formatVersion == "2")
    assert(cat.loadTable("db", "h1").get.read().count() == 6)
  }

  test("grants are idempotent and revocable (M10)") {
    val cat = freshCatalog(); cat.createNamespace("db")
    cat.createTable("db", "g1", schema)
    cat.grant("db", "g1", "analyst", Seq("SELECT", "DESCRIBE"))
    cat.grant("db", "g1", "analyst", Seq("SELECT")) // AlreadyExists tolerated
    assert(cat.grantsFor("db", "g1", "analyst").sorted == Seq("DESCRIBE", "SELECT"))
    cat.revoke("db", "g1", "analyst", Seq("DESCRIBE"))
    assert(cat.grantsFor("db", "g1", "analyst") == Seq("SELECT"))
  }
}
