package graft.ops

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.lake.{LakeCatalog, LakeSql}

final case class UpgradeOutcome(
    table: String,
    action: String, // "upgraded" | "compacted-only" | "skipped" | "dry-run" | "failed"
    ok: Boolean,
    detail: String)

/** M8/M9: the batch upgrade driver
  * (/root/reference/internal/upgrade_table.py:100-146,173-229,
  * upgrade.sh:131-169), reproducing its branch structure:
  *
  *  - non-lake catalog entries are skipped before any SQL (:117-119)
  *  - already-v3 tables get the compact-only plan (:121-124)
  *  - v2 tables get ALTER format-version=3 + compaction (:126-131)
  *  - dry-run prints the planned statements without executing (:74-78)
  *
  * Statements are dispatched as SQL strings through LakeSql — the same
  * string-driven shape the reference ships to spark-sql over ssh.
  */
class Upgrader(sql: LakeSql) {

  private def catalog: LakeCatalog = sql.catalog

  private def compactSql(db: String, table: String): String =
    s"CALL lake.system.rewrite_data_files(table => '$db.$table', " +
      "options => map('rewrite-all', 'true', 'delete-file-threshold', '1'))"

  private def alterSql(db: String, table: String): String =
    s"ALTER TABLE $db.$table SET TBLPROPERTIES ('format-version' = '3')"

  def upgradeTable(db: String, table: String, dryRun: Boolean = false): UpgradeOutcome = {
    val name = s"$db.$table"
    catalog.tableInfo(db, table) match {
      case None =>
        UpgradeOutcome(name, "failed", ok = false, "table not found")
      case Some(info) if info.tableType != "LAKE" =>
        UpgradeOutcome(name, "skipped", ok = true,
          s"not a lake table (table_type=${info.tableType})")
      case Some(info) =>
        val alreadyV3 = info.formatVersion == "3"
        val plan =
          if (alreadyV3) Seq(compactSql(db, table))
          else Seq(alterSql(db, table), compactSql(db, table))
        if (dryRun)
          return UpgradeOutcome(name, "dry-run", ok = true, plan.mkString("; "))
        try {
          plan.foreach(sql.run(_))
          UpgradeOutcome(name,
            if (alreadyV3) "compacted-only" else "upgraded", ok = true,
            if (alreadyV3) "already v3 — compaction only"
            else "upgraded to v3 (next-row-id minted) + compacted")
        } catch {
          case e: Exception =>
            UpgradeOutcome(name, "failed", ok = false,
              Option(e.getMessage).getOrElse(e.toString).take(500))
        }
    }
  }

  /** `--all`: every lake table not already on v3 (upgrade_table.py:205). */
  def upgradeAll(db: String, dryRun: Boolean = false): Seq[UpgradeOutcome] =
    catalog.listTables(db)
      .filter(i => i.tableType == "LAKE" && i.formatVersion != "3")
      .map(i => upgradeTable(db, i.name, dryRun))

  /** `--list`: (name, format_version) projection (upgrade_table.py:165-168). */
  def list(db: String): Seq[(String, String)] =
    catalog.listTables(db).filter(_.tableType == "LAKE")
      .map(i => (i.name, i.formatVersion))

  /** G3: the per-table success/fail summary loop (upgrade_table.py:216-228). */
  def summary(outcomes: Seq[UpgradeOutcome]): String = {
    val lines = outcomes.map(o =>
      f"  ${if (o.ok) "OK  " else "FAIL"} ${o.table}%-40s ${o.action}: ${o.detail}")
    val nOk = outcomes.count(_.ok)
    (lines :+ s"== $nOk/${outcomes.length} succeeded ==").mkString("\n")
  }
}

/** M9 CLI: `-d <db> [-t <table> | --tables a,b,c | --all | --list]
  * [--dry-run]` over the warehouse at $GRAFT_WAREHOUSE. */
object Upgrader {

  private val Usage =
    """usage: upgrader -d <db> (-t <table> | --tables a,b,c | --all | --list)
      |       [--dry-run] [--warehouse <dir>]
      |the warehouse directory comes from --warehouse or $GRAFT_WAREHOUSE""".stripMargin

  /** Friendly config failure (the reference validates required config
    * keys up front with named errors, internal/config.py:43-62 — this is
    * its CLI analogue; no raw stack traces for misconfiguration). */
  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg\n$Usage")

  def main(args: Array[String]): Unit = {
    var db = "default"; var tables = Seq.empty[String]
    var all = false; var listOnly = false; var dryRun = false
    var warehouseArg: Option[String] = None
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) fail(s"missing value for $flag")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case f @ ("-d" | "--database") => db = value(f); i += 2
        case f @ ("-t" | "--table") => tables = Seq(value(f)); i += 2
        case f @ "--tables" =>
          tables = value(f).split(",").map(_.trim).filter(_.nonEmpty).toSeq; i += 2
        case "--all" => all = true; i += 1
        case "--list" => listOnly = true; i += 1
        case "--dry-run" => dryRun = true; i += 1
        case f @ "--warehouse" => warehouseArg = Some(value(f)); i += 2
        case other => fail(s"unknown argument: $other")
      }
    }
    if (!listOnly && !all && tables.isEmpty)
      fail("nothing to do: pass -t <table>, --tables, --all or --list")
    val warehouse = warehouseArg.orElse(sys.env.get("GRAFT_WAREHOUSE"))
      .getOrElse(fail(
        "no warehouse configured: pass --warehouse <dir> or set GRAFT_WAREHOUSE"))
    if (!java.nio.file.Files.isDirectory(Paths.get(warehouse)))
      fail(s"warehouse is not a directory: $warehouse")
    val hadSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // LakeSql reads splice the native plan and copy-on-write DML plans
      // at all only with the extensions, as in every other session
      .config("spark.sql.extensions", "graft.lake.LakeExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val up = new Upgrader(new LakeSql(new LakeCatalog(spark, Paths.get(warehouse))))
    if (listOnly)
      up.list(db).foreach { case (n, v) => println(f"$n%-40s format-version=$v") }
    else {
      val outcomes =
        if (all) up.upgradeAll(db, dryRun)
        else tables.map(t => up.upgradeTable(db, t, dryRun))
      println(up.summary(outcomes))
    }
    // embedded callers (tests) share a live session; only stop our own
    if (!hadSession) spark.stop()
  }
}
