package graft.lake

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `CALL lake.system.<proc>(…)` procedures (Spark 4's DSv2
  * ProcedureCatalog) — the one CALL path (`CALL rewrite_data_files/
  * expire_snapshots/…`, reference: README.md:25-38): [[LakeSql.run]]
  * sends bare and `system.` names here, and a `spark-sql` prompt types
  * them with the catalog prefix. Spark binds named arguments
  * (`table => 'db.t'`) to the declared parameters, so the reference's
  * own CALL spelling works verbatim.
  *
  * Procedures execute driver-side (they orchestrate metadata commits;
  * any heavy lifting — compaction rewrites — launches distributed Spark
  * jobs inside [[Procedures]]) and
  * return their result rows through a [[LocalScan]].
  */
private[lake] object LakeProcedures {

  private val TableParam =
    ProcedureParameter.in("table", StringType).build()

  def load(cat: LakeCatalog, name: String,
      principal: Option[String]): Option[UnboundProcedure] =
    name.toLowerCase match {
      case "rewrite_data_files" => Some(proc(cat, principal, "rewrite_data_files",
        Seq(TableParam,
          ProcedureParameter.in("options", MapType(StringType, StringType))
            .defaultValue("map()").build()),
        StructType(Seq(
          StructField("rewritten_data_files_count", IntegerType),
          StructField("added_data_files_count", IntegerType),
          StructField("removed_delete_files_count", IntegerType))),
        (t, in) => {
          val r = Procedures.rewriteDataFiles(t, mapArg(in, 1))
          Array(row(r.rewrittenDataFiles, r.addedDataFiles, r.removedDeleteFiles))
        }))
      case "expire_snapshots" => Some(proc(cat, principal, "expire_snapshots",
        Seq(TableParam,
          ProcedureParameter.in("older_than", TimestampType)
            .defaultValue("NULL").build(),
          ProcedureParameter.in("retain_last", IntegerType)
            .defaultValue("NULL").build()),
        StructType(Seq(
          StructField("deleted_snapshots_count", IntegerType),
          StructField("deleted_files_count", IntegerType))),
        (t, in) => {
          // table-property retention policy supplies the defaults (M53)
          val (defOlder, defRetain) =
            Procedures.expireDefaults(t, System.currentTimeMillis())
          val olderThan =
            if (in.isNullAt(1)) defOlder
            else in.getLong(1) / 1000L // micros → millis
          val retain = if (in.isNullAt(2)) defRetain else in.getInt(2)
          val r = Procedures.expireSnapshots(t, olderThan, retain)
          Array(row(r.expiredSnapshots, r.deletedFiles))
        }))
      case "remove_orphan_files" => Some(proc(cat, principal, "remove_orphan_files",
        Seq(TableParam,
          ProcedureParameter.in("older_than", TimestampType)
            .defaultValue("NULL").build()),
        StructType(Seq(StructField("deleted_orphan_files_count", IntegerType))),
        (t, in) => {
          val n =
            if (in.isNullAt(1)) Procedures.removeOrphanFiles(t)
            else Procedures.removeOrphanFiles(t, in.getLong(1) / 1000L)
          Array(row(n))
        }))
      case "add_files" => Some(proc(cat, principal, "add_files",
        Seq(TableParam,
          ProcedureParameter.in("source", StringType).build()),
        StructType(Seq(
          StructField("added_files_count", IntegerType),
          StructField("added_records_count", LongType))),
        (t, in) => {
          val (_, nFiles, nRows) =
            Procedures.addFiles(t, in.getUTF8String(1).toString)
          Array(row(nFiles, nRows))
        }))
      // snapshot CREATES its target (zero-copy adoption of an external
      // parquet source), so it cannot ride `proc`'s load-existing path
      case "snapshot" => Some(new UnboundProcedure {
        override def name(): String = "snapshot"
        override def description(): String = "graft lake procedure snapshot"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "snapshot"
            override def description(): String = "graft lake procedure snapshot"
            override def parameters(): Array[ProcedureParameter] = Array(
              TableParam, ProcedureParameter.in("source", StringType).build())
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): java.util.Iterator[Scan] = {
              val (db, table) =
                LakeSql.splitName(input.getUTF8String(0).toString)
              val (_, nFiles, nRows) = Procedures.snapshotTable(
                cat, db, table, input.getUTF8String(1).toString)
              java.util.List.of[Scan](new LocalScan {
                override def readSchema(): StructType = StructType(Seq(
                  StructField("added_files_count", IntegerType),
                  StructField("added_records_count", LongType)))
                override def rows(): Array[InternalRow] = Array(row(nFiles, nRows))
              }).iterator()
            }
          }
      })
      case "rewrite_manifests" => Some(proc(cat, principal,
        "rewrite_manifests",
        Seq(TableParam),
        StructType(Seq(
          StructField("segments_before", IntegerType),
          StructField("segments_after", IntegerType))),
        (t, _) => {
          val (_, before, after) = Procedures.rewriteManifests(t)
          Array(row(before, after))
        }))
      case "rewrite_position_delete_files" => Some(proc(cat, principal,
        "rewrite_position_delete_files",
        Seq(TableParam),
        StructType(Seq(
          StructField("rewritten_delete_files_count", IntegerType),
          StructField("added_delete_files_count", IntegerType))),
        (t, _) => {
          val (_, consolidated, written) =
            Procedures.rewritePositionDeleteFiles(t)
          Array(row(consolidated, written))
        }))
      case "analyze_table" => Some(proc(cat, principal, "analyze_table",
        Seq(TableParam,
          ProcedureParameter.in("columns", StringType)
            .defaultValue("NULL").build()),
        StructType(Seq(
          StructField("analyzed_columns_count", IntegerType),
          StructField("row_count", LongType))),
        (t, in) => {
          val cols =
            if (in.isNullAt(1)) Nil
            else in.getUTF8String(1).toString.split(",").toSeq
              .map(_.trim).filter(_.nonEmpty)
          val r = Procedures.analyzeTable(t, cols)
          val ts = r.meta.tableStats.get
          Array(row(ts.columns.size, ts.rowCount))
        }))
      case "repair_v3_metadata" => Some(proc(cat, principal, "repair_v3_metadata",
        Seq(TableParam),
        StructType(Seq(StructField("status", StringType))),
        (t, _) => {
          val r = Procedures.repairV3Metadata(t)
          Array(row(UTF8String.fromString(s"next-row-id = ${r.meta.nextRowId}")))
        }))
      case "rollback_to_snapshot" => Some(proc(cat, principal, "rollback_to_snapshot",
        Seq(TableParam,
          ProcedureParameter.in("snapshot_id", LongType).build()),
        StructType(Seq(StructField("status", StringType))),
        (t, in) => {
          val id = in.getLong(1)
          val r = t.rollbackTo(id)
          Array(row(UTF8String.fromString(
            s"rolled back to snapshot $id (new snapshot ${r.currentSnapshot.get.id})")))
        }))
      case "fast_forward" => Some(proc(cat, principal, "fast_forward",
        Seq(TableParam,
          ProcedureParameter.in("branch", StringType).build()),
        StructType(Seq(StructField("status", StringType))),
        (t, in) => {
          val branch = in.getUTF8String(1).toString
          val r = t.fastForward(branch)
          Array(row(UTF8String.fromString(
            s"fast-forwarded to branch $branch " +
              s"(snapshot ${r.currentSnapshot.get.id})")))
        }))
      case "create_changelog_view" => Some(proc(cat, principal,
        "create_changelog_view",
        Seq(TableParam,
          ProcedureParameter.in("start_snapshot_id", LongType)
            .defaultValue("NULL").build(),
          ProcedureParameter.in("end_snapshot_id", LongType)
            .defaultValue("NULL").build(),
          ProcedureParameter.in("remove_carryovers", BooleanType)
            .defaultValue("true").build(),
          ProcedureParameter.in("changelog_view", StringType)
            .defaultValue("NULL").build()),
        StructType(Seq(StructField("changelog_view", StringType))),
        (t, in) => {
          val from = if (in.isNullAt(1)) None else Some(in.getLong(1))
          val to =
            if (in.isNullAt(2)) t.currentSnapshot.map(_.id).getOrElse(
              throw new IllegalArgumentException(
                s"${t.name} has no snapshots"))
            else in.getLong(2)
          val view =
            if (in.isNullAt(4)) s"${LakeSql.splitName(t.name)._2}_changes"
            else in.getUTF8String(4).toString
          t.readChangelog(from, to, in.getBoolean(3))
            .createOrReplaceTempView(view)
          Array(row(UTF8String.fromString(view)))
        },
        perm = "SELECT")) // the changelog is a read, not a table mutation
      case _ => None
    }

  def names: Seq[String] = Seq("rewrite_data_files", "expire_snapshots",
    "remove_orphan_files", "repair_v3_metadata",
    "rewrite_position_delete_files", "rewrite_manifests", "add_files", "snapshot",
    "rollback_to_snapshot", "fast_forward", "create_changelog_view",
    "analyze_table")

  private def row(vs: Any*): InternalRow =
    new GenericInternalRow(vs.toArray)

  private def mapArg(in: InternalRow, i: Int): Map[String, String] = {
    if (in.isNullAt(i)) return Map.empty
    val m = in.getMap(i)
    (0 until m.numElements()).map(j =>
      m.keyArray().getUTF8String(j).toString ->
        m.valueArray().getUTF8String(j).toString).toMap
  }

  /** One fixed-signature procedure: `bind` is identity (Spark aligns the
    * CALL's named/positional args to `params` and applies defaults), and
    * `call` loads the table fresh, enforces `perm` for the session
    * principal (ALTER for maintenance procedures, SELECT for read-only
    * ones), runs the body, and wraps the
    * result rows in a LocalScan. */
  private def proc(
      cat: LakeCatalog,
      principal: Option[String],
      procName: String,
      params: Seq[ProcedureParameter],
      resultSchema: StructType,
      body: (LakeTable, InternalRow) => Array[InternalRow],
      perm: String = "ALTER"): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft lake procedure $procName"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String = s"graft lake procedure $procName"
          override def parameters(): Array[ProcedureParameter] = params.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val (db, table) = LakeSql.splitName(input.getUTF8String(0).toString)
            principal.foreach(pr =>
              Grants.check(pr, cat.grantsFor(db, table, pr), perm, s"$db.$table"))
            val t = cat.loadTable(db, table).getOrElse(
              throw new IllegalArgumentException(s"no such table: $db.$table"))
            val out = body(t, input)
            java.util.List.of[Scan](new LocalScan {
              override def readSchema(): StructType = resultSchema
              override def rows(): Array[InternalRow] = out
            }).iterator()
          }
        }
    }
}
