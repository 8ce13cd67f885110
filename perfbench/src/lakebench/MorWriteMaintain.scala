package lakebench

import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, when}

import graft.lake.{LakeCatalog, LakeSql}
import graft.ops.Verifier

/** `mor_write_maintain`: the migration lifecycle the reference drives,
  * as SQL strings through `LakeSql.run` (the Upgrader's own path). One
  * cycle:
  *   1. CREATE a v2 merge-on-read table, INSERT…SELECT the lineitem;
  *   2. [[DmlPerPhase]] DELETE/UPDATE statements over seeded key slices (position
  *      deletes);
  *   3. `Verifier.verify(strict)`, which must fail with
  *      UNSUPPORTED_V2_DELETES;
  *   4. ALTER to format-version 3 with `write.delete.format=dv`;
  *   5. as many more (deletion vectors);
  *   6. CALL rewrite_position_delete_files;
  *   7. CALL rewrite_data_files with the Upgrader's options;
  *   8. CALL expire_snapshots;
  *   9. `Verifier.verify(strict)`, which must pass; the table must hold
  *      no delete file and read the same as a DataFrame replay of the
  *      cycle's statements;
  *  10. DROP the table.
  * Set-up stages the input, untimed, then times step 1 on a scratch table
  * [[Config.setupReps]] times. Timed cycles follow until the run's time is
  * up; there is always at least one. The first runs in a process whose
  * only lake work so far was set-up, as the reference's upgrade job
  * is a fresh process per migration.
  */
object MorWriteMaintain {
  val DmlPerPhase = 4

  private def timestamp(ms: Long): String =
    Instant.ofEpochMilli(ms).atOffset(ZoneOffset.UTC).toLocalDateTime
      .withNano(0).toString.replace('T', ' ')

  private def createSql(name: String): String =
    s"CREATE TABLE $name (${Data.LineitemDdl}) " +
      "PARTITIONED BY (months(l_shipdate)) TBLPROPERTIES ('format-version'='2', " +
      "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')"

  private def insertSql(name: String): String = s"INSERT INTO $name SELECT * FROM lineitem"

  def run(spark: SparkSession, catalog: LakeCatalog, rec: Recorder, cfg: Config): Unit = {
    val tr = rec.trace
    val sql = new LakeSql(catalog)
    Data.stage(spark, cfg.work.resolve("input"), cfg.rows, rec.seed)
    // set-up is the program's: step 1 (CREATE, INSERT…SELECT) on a table
    // that is then dropped, untimed
    for (rep <- 1 to cfg.setupReps) {
      val name = s"mw.setup$rep"
      tr.on = rec.traced
      val t0 = System.nanoTime()
      tr("setup")(Seq(createSql(name), insertSql(name))
        .foreach(s => tr("LakeSql.run")(sql.run(s).collect())))
      rec.setup((System.nanoTime() - t0) / 1e9)
      tr.on = false
      sql.run(s"DROP TABLE $name").collect()
    }
    val deadline = System.nanoTime() + cfg.seconds * 1000000000L
    var n = 0
    while (n == 0 || System.nanoTime() < deadline) {
      val ms = cycle(spark, catalog, rec, cfg, s"c$n")
      rec.sample("op" -> "cycle", "ms" -> ms)
      n += 1
    }
  }

  /** One lifecycle on table `mw.<tname>`; returns the summed wall time of
    * its statements and verifier calls, in ms. The benchmark's own probes
    * between them (table loads, directory walks, the replay check) are not
    * in it. */
  def cycle(spark: SparkSession, catalog: LakeCatalog, rec: Recorder, cfg: Config,
      tname: String): Double = {
    val tr = rec.trace
    val sql = new LakeSql(catalog)
    val verifier = new Verifier(catalog, strict = true)
    val ns = "mw"
    val name = s"$ns.$tname"
    val loc = catalog.tableLocation(ns, tname)
    var programMs = 0.0
    def timed[T](label: String, program: Boolean = true)(body: => T): T = {
      val (r, ms) = rec.op(spark, label)(tr(label)(body))
      rec.sample("op" -> label, "ms" -> ms, "engine_key" -> rec.lastOpKey(label))
      if (program) programMs += ms
      r
    }
    def stmt(label: String, s: String): DataFrame =
      timed(label)(tr("LakeSql.run") {
        val df = sql.run(s)
        df.collect()
        df
      })

    val slices = Data.slices(cfg.rows, cfg.sliceOrders, 2 * DmlPerPhase,
      rec.seed * 1000003L + tname.hashCode)
    var expect = spark.table("lineitem")

    stmt("create", createSql(name))
    stmt("write.insert", insertSql(name))

    def dmlPhase(phase: Seq[Data.Slice], suffix: String): Unit =
      phase.zipWithIndex.foreach { case (s, i) =>
        val before = catalog.loadTable(ns, tname).get.deleteFiles.size
        val bytes = Probe.bytesUnder(loc)
        if (i % 2 == 0) {
          stmt(s"dml.delete_$suffix", s"DELETE FROM $name WHERE ${s.sql}")
          expect = expect.filter(!s.column)
        } else {
          stmt(s"dml.update_$suffix",
            s"UPDATE $name SET l_quantity = l_quantity + 1 WHERE ${s.sql}")
          expect = expect.withColumn("l_quantity",
            when(s.column, col("l_quantity") + 1).otherwise(col("l_quantity")))
        }
        rec.sample("op" -> "dml.added",
          "delete_files" -> (catalog.loadTable(ns, tname).get.deleteFiles.size - before),
          "bytes" -> (Probe.bytesUnder(loc) - bytes))
      }

    dmlPhase(slices.take(DmlPerPhase), "v2")
    val v2 = timed("ops.verify_v2")(tr("Verifier.verify")(verifier.verify(ns, tname)))
    rec.check(!v2.ok && v2.probes.exists(_.detail.startsWith("UNSUPPORTED_V2_DELETES")),
      s"$name v2 verify: expected UNSUPPORTED_V2_DELETES, got ${v2.probes}")

    stmt("maint.upgrade", s"ALTER TABLE $name SET TBLPROPERTIES " +
      "('format-version'='3', 'write.delete.format'='dv')")
    dmlPhase(slices.drop(DmlPerPhase), "dv")

    timed("meta.load", program = false)(
      tr("LakeCatalog.loadTable")(catalog.loadTable(ns, tname).get))
    rec.sample("op" -> "store.peak", "metadata_bytes" -> Probe.bytesUnder(loc.resolve("metadata")),
      "stored_bytes" -> Probe.bytesUnder(loc))

    stmt("maint.rewrite_pos",
      s"CALL lake.system.rewrite_position_delete_files(table => '$name')")
    val rw = stmt("maint.rewrite_data",
      s"CALL lake.system.rewrite_data_files(table => '$name', " +
        "options => map('rewrite-all', 'true', 'delete-file-threshold', '1'))").head()
    val ex = stmt("maint.expire",
      s"CALL lake.system.expire_snapshots(table => '$name', " +
        s"older_than => TIMESTAMP '${timestamp(System.currentTimeMillis() + 60000L)}', " +
        "retain_last => 1)").head()
    val after = catalog.loadTable(ns, tname).get
    rec.sample("op" -> "store.final",
      "files_in" -> rw.getAs[Int]("rewritten_data_files_count"),
      "files_out" -> rw.getAs[Int]("added_data_files_count"),
      "files_deleted" -> ex.getAs[Int]("deleted_files_count"),
      "delete_files_after" -> after.deleteFiles.size,
      "stored_bytes" -> Probe.bytesUnder(loc))

    val v3 = timed("ops.verify_v3")(tr("Verifier.verify")(verifier.verify(ns, tname)))
    rec.check(v3.ok, s"$name v3 verify failed: ${v3.probes}")
    rec.check(after.deleteFiles.isEmpty,
      s"$name ends with ${after.deleteFiles.size} live delete files")
    val got = sql.run(s"SELECT ${Data.FingerprintSelect} FROM $name").head()
    expect.createOrReplaceTempView("mw_expect")
    val want = spark.sql(s"SELECT ${Data.FingerprintSelect} FROM mw_expect").head()
    rec.check(got == want, s"$name after compaction reads $got, replay says $want")

    stmt("drop", s"DROP TABLE $name")
    programMs
  }
}
