package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LakeStreamSink
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.lake.LakeCatalog

/** The `graft-lake` streaming format: the sink's per-batch commit bodies
  * ([[LakeStreamSink]]: replay gate, conflict retries, `keys` upserts,
  * `branch` WAP) and the source's commit-log tail (offsets, restarts,
  * schema changes, changelog feed, rate limits). */
class StreamingSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType)))

  private def mkEvents(n: Int): Seq[Row] = {
    val base = Instant.parse("2026-01-01T00:00:00Z")
    (0 until n).map(i => Row(i.toLong,
      Timestamp.from(base.plusSeconds(i * 300L)), s"t${i % 3}"))
  }

  test("sink is idempotent on micro-batch redelivery (VERDICT r3 #3 restart case)") {
    val wh = Files.createTempDirectory("graft-stream-idem")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    cat.createTable("db", "idem", schema)
    val sink = LakeStreamSink.commitBatch(cat, "db", "idem") _
    val b0 = spark.createDataFrame(
      spark.sparkContext.parallelize(mkEvents(10), 1), schema)

    sink(b0, 0L)
    assert(cat.loadTable("db", "idem").get.read().count() == 10)
    // restart re-delivers the same batchId: must be a no-op, not a dup
    sink(b0, 0L)
    val t1 = cat.loadTable("db", "idem").get
    assert(t1.read().count() == 10, "redelivered batch landed twice")
    assert(t1.meta.snapshots.size == 1)
    assert(t1.meta.props(LakeStreamSink.LastBatchProp) == "0")
    // the next batch commits normally and advances the high-water mark
    sink(b0, 1L)
    val t2 = cat.loadTable("db", "idem").get
    assert(t2.read().count() == 20)
    assert(t2.meta.props(LakeStreamSink.LastBatchProp) == "1")
  }

  test("sink survives concurrent maintenance commits (reload-retry on conflict)") {
    // Continuous ingest + compaction is the normal state of a big table:
    // the sink's CAS-guarded commits race a compactor thread and must
    // converge to exactly-once instead of failing the streaming query.
    val wh = Files.createTempDirectory("graft-stream-race")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    cat.createTable("db", "race", schema)
    val sink = LakeStreamSink.commitBatch(cat, "db", "race") _
    val b = spark.createDataFrame(
      spark.sparkContext.parallelize(mkEvents(5), 1), schema)
    sink(b, 0L) // seed so the compactor has files to rewrite

    // fast metadata-only maintenance commits (snapshot tags, ~ms each)
    // land INSIDE the sink's load→write→commit window (~100s of ms), so
    // the sink's first attempt is stale nearly every batch — the
    // conflict-retry path is what's under test
    @volatile var stop = false
    @volatile var maintenance = 0
    val tagger = new Thread(() => {
      var i = 0
      while (!stop) {
        try {
          val t = cat.loadTable("db", "race").get
          t.tagSnapshot(s"t$i", t.currentSnapshot.get.id)
          maintenance += 1; i += 1
        } catch {
          case _: graft.lake.CommitConflictException => () // stale: reload next loop
        }
        Thread.sleep(2)
      }
    })
    tagger.start()
    try (1L to 12L).foreach(i => sink(b, i))
    finally { stop = true; tagger.join() }

    val t = cat.loadTable("db", "race").get
    assert(t.read().count() == 13 * 5, "a racing batch was lost or doubled")
    assert(t.meta.props(LakeStreamSink.LastBatchProp) == "12")
    assert(maintenance > 0, "maintenance never committed — race untested")
  }

  test("graft-lake SINK: format roundtrip mirrors table A into B with one " +
    "append snapshot per micro-batch; keys option lands equality upserts") {
    val wh = Files.createTempDirectory("graft-sink-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val s = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))
    def batch(rows: (Int, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), s)
    cat.createTable("db", "mA", s).append(batch((1, "a"), (2, "b")))
    cat.createTable("db", "mB", s)

    // the full mirror pipeline: tail A's commit log, commit into B
    val ckpt = Files.createTempDirectory("graft-sink-ckpt")
    val q = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.mA").load()
      .writeStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.mB")
      .option("checkpointLocation", ckpt.toString)
      .start()
    def bIds(): Seq[Int] = cat.loadTable("db", "mB").get.read()
      .collect().map(_.getInt(0)).sorted.toSeq
    try {
      q.processAllAvailable()
      assert(bIds() == Seq(1, 2))
      cat.loadTable("db", "mA").get.append(batch((3, "c")))
      q.processAllAvailable()
      assert(bIds() == Seq(1, 2, 3))
      val b = cat.loadTable("db", "mB").get
      assert(b.meta.snapshots.count(_.operation == "append") == 2,
        "one append snapshot per delivered micro-batch")
      assert(b.meta.props.contains(LakeStreamSink.LastBatchProp),
        "batch id must ride the commit for replay skipping")
    } finally q.stop()

    // keys mode: two sequential one-shot streams upsert into the same
    // MoR table; the second's overlapping key must win by value
    cat.createTable("db", "mU", s,
      props = Map("write.delete.mode" -> "merge-on-read"))
    def upsertOnce(rows: Seq[(Int, String)]): Unit = {
      val src = Files.createTempDirectory("graft-sink-upsrc")
      batch(rows: _*).write.parquet(s"$src/p")
      val flat = Files.createTempDirectory("graft-sink-upflat")
      Files.walk(src).filter(_.toString.endsWith(".parquet")).forEach { p =>
        Files.copy(p, flat.resolve(p.getFileName)) }
      val uq = spark.readStream.schema(s).parquet(flat.toString)
        .writeStream.format("graft-lake")
        .option("warehouse", wh.toString).option("table", "db.mU")
        .option("keys", "id")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-sink-upckpt").toString)
        .start()
      uq.processAllAvailable(); uq.stop()
    }
    upsertOnce(Seq(1 -> "x", 2 -> "y"))
    upsertOnce(Seq(2 -> "Y2", 3 -> "z"))
    val got = cat.loadTable("db", "mU").get.read().collect()
      .map(r => r.getInt(0) -> r.getString(1)).toSet
    assert(got == Set(1 -> "x", 2 -> "Y2", 3 -> "z"), s"got $got")
    // each micro-batch = one upsert snapshot carrying one equality-delete
    // file, never a target-reading join
    assert(cat.loadTable("db", "mU").get.meta.snapshots
      .count(_.operation == "upsert") == 2)
    assert(cat.loadTable("db", "mU").get.deleteFiles
      .count(_.kind == "equality") == 2)

    // in-batch duplicate keys would BOTH survive the one-sequence-number
    // upsert — the batch body must refuse, not silently double the key
    val dup = intercept[IllegalArgumentException](
      LakeStreamSink.upsertBatch(cat, "db", "mU", Seq("id"))(
        batch((7, "a"), (7, "b"))))
    assert(dup.getMessage.contains("multiple rows"))

    // keys mode deletes existing rows, so INSERT alone must not suffice
    cat.grant("db", "mU", "dave", Seq("INSERT"))
    val sink = new org.apache.spark.sql.graft.LakeStreamSink(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      cat, "db", "mU", Seq("id"))
    try {
      spark.conf.set(graft.lake.LakeExtensions.PrincipalConf, "dave")
      intercept[graft.lake.AccessDeniedException](
        sink.addBatch(0L, batch((9, "q"))))
    } finally spark.conf.unset(graft.lake.LakeExtensions.PrincipalConf)
  }

  test("streaming WAP: the sink lands micro-batches on a branch, a branch " +
    "source tails them, and fast_forward publishes to main") {
    val wh = Files.createTempDirectory("graft-swap-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val s = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))
    def batch(rows: (Int, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), s)
    val t0 = cat.createTable("db", "wt", s).append(batch((1, "a")))
    t0.createBranch("audit")

    // land a stream on the branch: main readers must not see it
    val src = Files.createTempDirectory("graft-swap-src")
    batch((2, "b"), (3, "c")).write.parquet(s"$src/p")
    val flat = Files.createTempDirectory("graft-swap-flat")
    Files.walk(src).filter(_.toString.endsWith(".parquet")).forEach { p =>
      Files.copy(p, flat.resolve(p.getFileName)) }
    val q = spark.readStream.schema(s).parquet(flat.toString)
      .writeStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.wt")
      .option("branch", "audit")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-swap-ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    assert(cat.loadTable("db", "wt").get.read().count() == 1,
      "main must not see unpublished branch batches")

    // a branch source tails the audit lineage (root + streamed batch)
    val q2 = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.wt")
      .option("branch", "audit")
      .load()
      .writeStream.format("memory").queryName("wap_tail").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("wap_tail").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(1, 2, 3))
    } finally q2.stop()

    // publish: one pointer move exposes the validated batches
    cat.loadTable("db", "wt").get.fastForward("audit")
    assert(cat.loadTable("db", "wt").get.read().count() == 3)
  }

  test("graft-lake streaming SOURCE tails the commit log with snapshot-id " +
    "offsets; checkpoint restart resumes after the delivered snapshot") {
    val wh = Files.createTempDirectory("graft-src-wh")
    val ckpt = Files.createTempDirectory("graft-src-ckpt")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val s = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))
    def batch(rows: (Int, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), s)
    var t = cat.createTable("db", "tail", s).append(batch((1, "a"), (2, "b")))

    // file sink: the one durable sink whose output across a checkpoint
    // restart exposes replays as duplicate rows (memory sinks refuse
    // checkpoint recovery outright)
    val outDir = Files.createTempDirectory("graft-src-out")
    def start() = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.tail")
      .load()
      .writeStream.format("parquet").option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .start()
    def sunk(): Seq[Int] = spark.read.parquet(outDir.toString)
      .collect().map(_.getInt(0)).sorted.toSeq

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(sunk() == Seq(1, 2),
        "initial snapshot must be delivered from table start")
      t = cat.loadTable("db", "tail").get.append(batch((3, "c")))
      q1.processAllAvailable()
      assert(sunk() == Seq(1, 2, 3),
        "a new append commit must arrive as a micro-batch")
    } finally q1.stop()

    // restart against the SAME checkpoint: the recovered offset is a
    // SerializedOffset (json round-trip); a replayed snapshot would
    // surface as duplicate ids in the file sink
    cat.loadTable("db", "tail").get.append(batch((4, "d"), (5, "e")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(sunk() == Seq(1, 2, 3, 4, 5),
        "restart must resume after the checkpointed snapshot id, not replay")
    } finally q2.stop()

    // the streaming source enforces the same SELECT grant as every
    // other read surface — a principal without it cannot even resolve
    // the source schema (review r7: streams must not bypass grants)
    cat.grant("db", "tail", "carol", Seq("INSERT"))
    try {
      spark.conf.set(graft.lake.LakeExtensions.PrincipalConf, "carol")
      intercept[graft.lake.AccessDeniedException] {
        spark.readStream.format("graft-lake")
          .option("warehouse", wh.toString).option("table", "db.tail")
          .load()
      }
    } finally spark.conf.unset(graft.lake.LakeExtensions.PrincipalConf)

    // startSnapshotId tails only commits after the given snapshot
    val t2 = cat.loadTable("db", "tail").get
    val q3 = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.tail")
      .option("startSnapshotId", "1")
      .load()
      .writeStream.format("memory").queryName("tail_sink3").start()
    try {
      q3.processAllAvailable()
      assert(spark.table("tail_sink3").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(3, 4, 5), "startSnapshotId=1 must skip snapshot 1's rows")
    } finally q3.stop()
  }

  test("source serves a mid-stream RENAME under the stream-start names; " +
    "a widen fails by name asking for a restart") {
    val wh = Files.createTempDirectory("graft-ren-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val s = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))
    def batch(rows: (Int, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), s)
    var t = cat.createTable("db", "ren", s).append(batch((1, "a")))
    val q = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.ren")
      .load()
      .writeStream.format("memory").queryName("ren_sink").start()
    try {
      q.processAllAvailable()
      // rename mid-stream: values are unchanged, so the batch aliases
      // back to the names the stream started with
      t = cat.loadTable("db", "ren").get.renameColumn("v", "val")
      t = t.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(2, "b")), 1),
        StructType(Seq(StructField("id", IntegerType),
          StructField("val", StringType)))))
      q.processAllAvailable()
      val got = spark.table("ren_sink").collect()
        .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      assert(got == Seq((1, "a"), (2, "b")),
        "renamed column must keep flowing under the stream-start name")
      assert(spark.table("ren_sink").schema.fieldNames.toSeq == Seq("id", "v"))
      // a widen cannot be served under the narrow stream schema: the
      // next batch fails with the restart pointer, not a silent bind
      t = cat.loadTable("db", "ren").get.widenColumn("id", LongType)
      t.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(5L, "w")), 1),
        StructType(Seq(StructField("id", LongType),
          StructField("val", StringType)))))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("restart") ||
        e.getCause.getMessage.contains("restart"))
    } finally q.stop()
    // a fresh query adopts the evolved schema and reads all epochs
    val q2 = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.ren")
      .load()
      .writeStream.format("memory").queryName("ren_sink2").start()
    try {
      q2.processAllAvailable()
      val got = spark.table("ren_sink2").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got == Seq((1L, "a"), (2L, "b"), (5L, "w")))
      assert(spark.table("ren_sink2").schema.fieldNames.toSeq == Seq("id", "val"))
    } finally q2.stop()
  }

  test("changelog=true streams a row-level CDC feed: inserts, MoR " +
    "deletes and updates arrive as _change_type rows") {
    val wh = Files.createTempDirectory("graft-cdc-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val s = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))
    def batch(rows: (Int, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), s)
    var t = cat.createTable("db", "cdc", s, props = Map(
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read"))
      .append(batch((1, "a"), (2, "b"), (3, "c")))
    val q = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.cdc")
      .option("changelog", "true")
      .load()
      .writeStream.format("memory").queryName("cdc_sink").start()
    try {
      q.processAllAvailable()
      def rows() = spark.table("cdc_sink").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      assert(rows().sorted == Seq((1, "a", "INSERT"), (2, "b", "INSERT"),
        (3, "c", "INSERT")), rows().toString)
      // a MoR DELETE streams as a DELETE change row
      t = cat.loadTable("db", "cdc").get.delete(col("id") === 2)
      q.processAllAvailable()
      assert(rows().count(_ == ((2, "b", "DELETE"))) == 1, rows().toString)
      // a MoR UPDATE streams as DELETE(old) + INSERT(new)
      t = cat.loadTable("db", "cdc").get
        .update(Map("v" -> lit("a2")), col("id") === 1)
      q.processAllAvailable()
      val all = rows()
      assert(all.count(_ == ((1, "a", "DELETE"))) == 1, all.toString)
      assert(all.count(_ == ((1, "a2", "INSERT"))) == 1, all.toString)
      // compaction emits NO change rows
      val n = all.size
      graft.lake.Procedures.rewriteDataFiles(
        cat.loadTable("db", "cdc").get, Map("rewrite-all" -> "true"))
      q.processAllAvailable()
      assert(rows().size == n, "compaction must stream zero changes")
    } finally q.stop()
  }

  test("stream-stream interval join: two lake-table tails join with " +
    "watermarks and a time-range condition across micro-batches") {
    val wh = Files.createTempDirectory("graft-ssj-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val impSchema = StructType(Seq(
      StructField("imp_id", LongType), StructField("its", TimestampType)))
    val clkSchema = StructType(Seq(
      StructField("clk_imp", LongType), StructField("cts", TimestampType)))
    val base = Instant.parse("2026-02-01T00:00:00Z")
    def ts(min: Long) = Timestamp.from(base.plusSeconds(min * 60))
    def imp(rows: (Long, Long)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, m) => Row(i, ts(m)) }, 1), impSchema)
    def clk(rows: (Long, Long)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, m) => Row(i, ts(m)) }, 1), clkSchema)
    var ti = cat.createTable("db", "imps", impSchema)
      .append(imp((1L, 0L), (2L, 5L), (3L, 10L)))
    var tc = cat.createTable("db", "clks", clkSchema)
      // click 1 inside [imp, imp+30m]; click 3 OUTSIDE (45m later)
      .append(clk((1L, 10L), (3L, 55L)))
    def tail(table: String) = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", s"db.$table").load()
    val joined = tail("imps").withWatermark("its", "10 minutes")
      .join(tail("clks").withWatermark("cts", "10 minutes"),
        expr("imp_id = clk_imp AND cts >= its AND cts <= its + INTERVAL 30 MINUTES"))
      .select(col("imp_id"), col("its"), col("cts"))
    val q = joined.writeStream.format("memory").queryName("ssj_sink").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ssj_sink").collect().map(_.getLong(0)).toSeq
        == Seq(1L), "only the in-window click joins")
      // a second micro-batch on EACH side joins against the other side's
      // earlier batch — cross-batch state, the stream-stream join core
      tc = cat.loadTable("db", "clks").get.append(clk((2L, 20L)))
      ti = cat.loadTable("db", "imps").get.append(imp((4L, 50L)))
      tc = cat.loadTable("db", "clks").get.append(clk((4L, 60L)))
      q.processAllAvailable()
      val got = spark.table("ssj_sink").collect()
        .map(r => r.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 4L),
        s"cross-micro-batch pairs must join exactly once: $got")
    } finally q.stop()
  }

  test("a mid-stream DROP+ADD that preserves the type sequence fails " +
    "by name instead of rebinding positionally") {
    val wh = Files.createTempDirectory("graft-da-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val s = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))
    var t = cat.createTable("db", "da", s).append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1, "a")), 1), s))
    val q = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.da")
      .load()
      .writeStream.format("memory").queryName("da_sink").start()
    try {
      q.processAllAvailable()
      // drop the trailing STRING column, add a different STRING column:
      // the type SEQUENCE is unchanged, but `w`'s values are not `v`'s —
      // a positional rebind would serve them under the dropped name
      t = cat.loadTable("db", "da").get.dropColumn("v")
      t = t.addColumn("w", StringType)
      t.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(2, "IMPOSTER")), 1),
        StructType(Seq(StructField("id", IntegerType),
          StructField("w", StringType)))))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("restart") ||
        e.getCause.getMessage.contains("restart"),
        s"DROP+ADD must demand a restart, got: ${e.getMessage}")
      assert(!spark.table("da_sink").collect().exists(r =>
        r.getString(1) == "IMPOSTER"), "new column served under old name")
    } finally q.stop()
  }

  test("Trigger.AvailableNow: an uncapped run drains the backlog and stops; " +
    "capped checkpointed runs drain it in bounded installments") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = Files.createTempDirectory("graft-an-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val s = StructType(Seq(StructField("id", IntegerType)))
    def batch(rows: Int*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1), s)
    var t = cat.createTable("db", "an", s).append(batch(1))
    (2 to 5).foreach(i => t = cat.loadTable("db", "an").get.append(batch(i)))

    // uncapped: the batch-mode catch-up trigger consumes everything
    // available at start, then self-terminates
    val q = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.an")
      .load()
      .writeStream.format("memory").queryName("an_tail")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    assert(spark.table("an_tail").collect().map(_.getInt(0)).sorted.toSeq
      == (1 to 5))

    // capped + checkpointed: each run processes ONE bounded installment
    // (the V1 wrapper latches the capped offset), and repeated runs —
    // the cron-scheduled bounded-ingestion pattern — drain the backlog
    val ckpt = Files.createTempDirectory("graft-an-ckpt")
    val out = Files.createTempDirectory("graft-an-out")
    def run(): Unit = {
      val qq = spark.readStream.format("graft-lake")
        .option("warehouse", wh.toString).option("table", "db.an")
        .option("maxSnapshotsPerTrigger", "2")
        .load()
        .writeStream.format("parquet").option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(qq.awaitTermination(60000))
    }
    run()
    val afterOne = spark.read.parquet(out.toString).count()
    assert(afterOne <= 2, s"capped AvailableNow run exceeded its installment: $afterOne")
    run(); run()
    assert(spark.read.parquet(out.toString).collect().map(_.getInt(0)).sorted.toSeq
      == (1 to 5), "bounded runs must drain the backlog exactly once each row")
  }

  test("graft-lake source rate limit: maxSnapshotsPerTrigger turns a commit " +
    "backlog into commit-sized micro-batches, losing nothing") {
    val wh = Files.createTempDirectory("graft-rl-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val s = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))
    def batch(rows: (Int, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), s)
    // 5-commit backlog, one row per commit, BEFORE the stream starts —
    // the cold-start catch-up case the cap exists for
    var t = cat.createTable("db", "rl", s).append(batch((1, "a")))
    (2 to 5).foreach { i =>
      t = cat.loadTable("db", "rl").get.append(batch((i, "x")))
    }

    // metadata-level contract of the bounded endpoint itself
    val lake = cat.loadTable("db", "rl").get
    val ids = lake.meta.snapshots.map(_.id).sorted
    assert(lake.boundedIncrementalEnd(None, ids.last, 100) == ids.last,
      "a cap wider than the range must return the range end")
    assert(lake.boundedIncrementalEnd(None, ids.last, 2) == ids(1),
      "from table start, a cap of 2 must stop at the second snapshot")
    assert(lake.boundedIncrementalEnd(Some(ids(1)), ids.last, 2) == ids(3),
      "the cap must advance along the parent chain from the start bound")

    val q = spark.readStream.format("graft-lake")
      .option("warehouse", wh.toString).option("table", "db.rl")
      .option("maxSnapshotsPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("rl_tail").start()
    try {
      q.processAllAvailable()
      assert(spark.table("rl_tail").collect().map(_.getInt(0)).sorted.toSeq
        == (1 to 5), "rate limiting must never drop or duplicate rows")
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
      assert(sizes.length >= 3,
        s"5 commits at cap 2 need >= 3 micro-batches, got $sizes")
      assert(sizes.forall(_ <= 2),
        s"a micro-batch exceeded the 2-commit cap: $sizes")
    } finally q.stop()
  }

  test("rate-limit cursor durability: getOffset latches in memory only, " +
    "getBatch persists — a crash between poll and offset-WAL write must " +
    "not strand the polled-but-uncommitted range on restart") {
    import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
    val wh = Files.createTempDirectory("graft-cw-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("db")
    val s = StructType(Seq(StructField("id", IntegerType)))
    def batch(rows: Int*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1), s)
    var t = cat.createTable("db", "cw", s).append(batch(1))
    (2 to 5).foreach(i => t = cat.loadTable("db", "cw").get.append(batch(i)))
    val ids = cat.loadTable("db", "cw").get.meta.snapshots.map(_.id).sorted

    val meta = Files.createTempDirectory("graft-cw-meta")
    val cursor = meta.resolve("graft-rate-cursor")
    def mkSource() = new org.apache.spark.sql.graft.LakeStreamSource(
      spark.asInstanceOf[ClassicSession], cat, "db", "cw",
      startAfter = None, skipNonAppends = false, branch = None,
      maxSnapshotsPerTrigger = Some(2), metadataPath = Some(meta.toString))
    def endOf(o: Option[org.apache.spark.sql.execution.streaming.Offset]) =
      o.get.json.trim.toLong

    // poll alone: the capped end is latched in memory, NOT on disk —
    // Spark has not logged this offset yet, so a crash here must leave
    // no trace that could outrun the checkpoint
    val s1 = mkSource()
    val off1 = s1.getOffset
    assert(endOf(off1) == ids(1), "cap 2 from table start stops at snapshot 2")
    assert(!Files.exists(cursor),
      "getOffset persisted the cursor pre-WAL — the r8 crash window is back")

    // 'crash' before the WAL write: a fresh source (restart) must
    // re-offer the SAME capped range, not withhold it until a new commit
    val s2 = mkSource()
    assert(endOf(s2.getOffset) == ids(1),
      "a restart after a poll-only crash must re-offer the polled range")

    // delivery: Spark calls getBatch only after the offset is in its
    // WAL, so THIS is where the cursor becomes durable
    s2.getBatch(None, org.apache.spark.sql.execution.streaming.runtime.LongOffset(ids(1)))
    assert(Files.exists(cursor) &&
      new String(Files.readAllBytes(cursor), "UTF-8").trim.toLong == ids(1),
      "getBatch must persist the delivered end offset")

    // restart after delivery: the cap resumes past the durable cursor
    val s3 = mkSource()
    assert(endOf(s3.getOffset) == ids(3),
      "restart after delivery must advance the cap from the persisted cursor")
  }
}
