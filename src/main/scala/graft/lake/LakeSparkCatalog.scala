package graft.lake

import java.nio.file.Paths
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, EqualTo, Filter, In, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 `TableCatalog` exposing lake tables to Spark SQL under a
  * catalog name — `spark.sql.catalog.lake = graft.lake.LakeSparkCatalog`
  * (plus `glue_catalog` for the reference's spelling,
  * upgrade_table.py:128) makes
  *
  *   CREATE TABLE lake.db.t … / DROP TABLE / DESCRIBE / SHOW TABLES /
  *   SELECT … FROM lake.db.t / INSERT INTO / INSERT OVERWRITE /
  *   VERSION AS OF / TIMESTAMP AS OF /
  *   DELETE FROM / UPDATE / MERGE INTO (merge-on-read tables) /
  *   CALL lake.system.<procedure>(…)
  *
  * plan natively through Catalyst. Reads splice [[LakeTable.read]]'s own
  * MoR-aware plan in at the leaf ([[NativeReadRule]]): within
  * `spark.graft.dv.broadcastBudgetBytes` every delete kind applies as a
  * broadcast filter, past it as an anti-join; time travel and
  * metadata-column selects stay on the V1Scan bridge. Writes go through
  * the V1Write bridge; row-level DML through SupportsRowLevelOperations,
  * where `newRowLevelOperationBuilder` plans delta writes on
  * merge-on-read tables ([[LakeRowLevelOperation]]) and file rewrites on
  * copy-on-write tables ([[LakeCowRowLevelOperation]]); maintenance
  * procedures through ProcedureCatalog ([[LakeProcedures]]).
  *
  * A statement running under [[LakeSql.run]] resolves through that
  * `LakeSql`'s own [[LakeCatalog]] (its warehouse and clock), pinned per
  * thread. Otherwise the warehouse root is read from
  * `spark.graft.warehouse` at every call, so one registered catalog
  * serves whatever warehouse the session currently points at.
  */
class LakeSparkCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog {

  private var catalogName: String = "lake"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** Column defaults (M46): lets the parser hand `ADD COLUMN … DEFAULT`
    * and `ALTER COLUMN … SET DEFAULT` to [[alterTable]]. */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def cat: LakeCatalog = LakeSql.pinned.map(_.catalog).getOrElse {
    val spark = SparkSession.active
    val wh = spark.conf.getOption(LakeExtensions.WarehouseConf).getOrElse(
      throw new IllegalStateException(
        s"${LakeExtensions.WarehouseConf} is not set — point it at the warehouse root"))
    V1StatsRule.install(spark) // bridged-scan stats for the planner (M50)
    new LakeCatalog(spark, Paths.get(wh))
  }

  private def db(ident: Identifier): String = {
    if (ident.namespace().length != 1)
      throw new NoSuchTableException(ident.namespace() :+ ident.name())
    ident.namespace()(0)
  }

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.length != 1) throw new NoSuchNamespaceException(namespace)
    cat.listTables(namespace(0))
      .map(i => Identifier.of(namespace, i.name)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // `lake.db.t.history` arrives as Identifier([db, t], history) —
    // Iceberg's metadata-table spelling, resolved before real tables
    if (ident.namespace().length == 2) {
      val Array(dbName, tblName) = ident.namespace()
      val kind = ident.name().toLowerCase
      val make: Option[LakeTable => org.apache.spark.sql.DataFrame] = kind match {
        case "history" | "snapshots" => Some(_.history())
        case "files" => Some(_.filesMetadata())
        case "all_files" => Some(_.allFilesMetadata())
        case "manifests" => Some(_.manifestsMetadata())
        case "partitions" => Some(_.partitionsMetadata())
        case "refs" => Some(_.refsMetadata())
        case "metadata_log" => Some(_.metadataLogMetadata())
        case _ => None
      }
      return make.flatMap(f => cat.loadTable(dbName, tblName).map { t =>
        new LakeMetaV2Table(s"${t.name}.$kind", t, f, principal): Table
      }).getOrElse(
        throw new NoSuchTableException(ident.namespace() :+ ident.name()))
    }
    val c = cat
    c.loadTable(db(ident), ident.name()) match {
      case Some(t) => new LakeV2Table(t)
      case None =>
        // M49: Spark 4.1's SQL layer never consults ViewCatalog.loadView
        // for reads (its v2 view DDL/resolution is unfinished — CREATE
        // VIEW on a non-session catalog throws MISSING_CATALOG_ABILITY),
        // so views surface as read-only V2 tables: the scan expands the
        // stored definition through LakeSql with the session principal —
        // same late binding and invoker-rights gates
        c.viewInfo(db(ident), ident.name()) match {
          case Some(vm) =>
            new LakeViewV2Table(s"${db(ident)}.${ident.name()}", vm, c, principal)
          case None =>
            throw new NoSuchTableException(ident.namespace() :+ ident.name())
        }
    }
  }

  /** `SELECT … FROM lake.db.t VERSION AS OF <id-or-tag-or-branch>` —
    * Catalyst resolves the clause through this overload; a numeric
    * argument is a snapshot id, anything else resolves as a snapshot tag
    * or a branch head (Iceberg's branch/tag time travel; a branch name
    * reads its current head), with a diagnostic listing the table's refs
    * (a [[SqlParseException]]: the statement does not resolve) instead of
    * a raw NumberFormatException. Tags win a (discouraged)
    * name collision — they are immutable, so the read is reproducible. */
  override def loadTable(ident: Identifier, version: String): Table =
    cat.loadTable(db(ident), ident.name()) match {
      case Some(t) =>
        val snapId = version.toLongOption
          .orElse(t.meta.tags.get(version))
          .orElse(t.meta.branches.get(version))
          .getOrElse(throw new SqlParseException(
            s"VERSION AS OF '$version': not a snapshot id, tag or branch " +
              s"on ${t.name} (tags: ${t.meta.tags.keys.mkString(", ")}; " +
              s"branches: ${t.meta.branches.keys.mkString(", ")})"))
        new LakeV2Table(t, Some(snapId))
      case None => throw new NoSuchTableException(ident.namespace() :+ ident.name())
    }

  /** `TIMESTAMP AS OF` — Spark hands the instant in microseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    cat.loadTable(db(ident), ident.name()) match {
      case Some(t) =>
        new LakeV2Table(t, Some(t.snapshotIdAsOf(timestamp / 1000L)))
      case None => throw new NoSuchTableException(ident.namespace() :+ ident.name())
    }

  /** The principal the handles loaded now check (as [[LakeV2Table]]'s
    * default does): gates that run after the statement's analysis still
    * see the principal that loaded the handle. */
  private def principal: Option[String] = Grants.principal(SparkSession.active)

  override def tableExists(ident: Identifier): Boolean =
    cat.tableExists(db(ident), ident.name())

  // ------------------------------------------------------------ procedures

  /** `CALL lake.system.<proc>(table => 'db.t', …)` — the maintenance
    * procedures ([[LakeProcedures]]); [[LakeSql.run]] sends bare and
    * `system.` names here. */
  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    val known = ident.namespace().toSeq == Seq("system")
    (if (known) LakeProcedures.load(cat, ident.name(), principal) else None)
      .getOrElse(throw new RuntimeException(
        s"unknown procedure: ${(ident.namespace() :+ ident.name()).mkString(".")}" +
          s" (known: system.{${LakeProcedures.names.mkString(", ")}})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      LakeProcedures.names.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val partCols = partitions.toSeq.map { t =>
      // identity like the reference's PARTITIONED BY (category), plus the
      // Iceberg transforms (M36) — mapped onto the spec grammar
      // LakeCatalog.createTable takes
      def ref: String = {
        val refs = t.references()
        if (refs.length != 1)
          throw new UnsupportedOperationException(
            s"unsupported partition transform: $t")
        refs(0).fieldNames().mkString(".")
      }
      def intArg: Int = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().toString.toInt
      }.getOrElse(throw new UnsupportedOperationException(
        s"partition transform missing numeric argument: $t"))
      t.name().toLowerCase match {
        case "identity" => ref
        case "bucket" => s"bucket($intArg,$ref)"
        case "truncate" => s"truncate($intArg,$ref)"
        case u @ ("years" | "months" | "days" | "hours") => s"$u($ref)"
        // Spark parses YEAR(ts)/MONTH(ts)… in PARTITIONED BY to the
        // singular-named transforms
        case u @ ("year" | "month" | "day" | "hour") => s"${u}s($ref)"
        case _ =>
          throw new UnsupportedOperationException(
            s"unsupported partition transform: $t")
      }
    }
    val props = properties.asScala.toMap -
      TableCatalog.PROP_PROVIDER - TableCatalog.PROP_LOCATION - TableCatalog.PROP_OWNER
    cat.createNamespace(db(ident))
    new LakeV2Table(cat.createTable(db(ident), ident.name(), schema, partCols, props))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = cat.loadTable(db(ident), ident.name()).getOrElse(
      throw new NoSuchTableException(ident.namespace() :+ ident.name()))
    // same gate LakeSql's ALTER applies (M27 — the native DDL
    // surface must not bypass the grants model)
    Grants.require(SparkSession.active, t, "ALTER")
    // checked before any change commits
    val handled = changes.count {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty |
           _: TableChange.RenameColumn | _: TableChange.UpdateColumnType |
           _: TableChange.DeleteColumn => true
      case a: TableChange.AddColumn => a.position() == null
      case u: TableChange.UpdateColumnDefaultValue => u.newCurrentDefault() != null
      case _ => false
    }
    if (handled != changes.size)
      throw new UnsupportedOperationException("only SET/UNSET TBLPROPERTIES, " +
        "ADD COLUMN, RENAME COLUMN, ALTER COLUMN TYPE, ALTER COLUMN SET " +
        "DEFAULT and DROP COLUMN are supported")
    // M48 schema evolution and M46 column defaults: ADD COLUMN (with a v3
    // DEFAULT), RENAME COLUMN, widening ALTER COLUMN … TYPE, ALTER
    // COLUMN … SET DEFAULT and DROP COLUMN arrive as TableChanges and run
    // the metadata-only engine paths
    val evolved = changes.foldLeft(t) { (acc, ch) =>
      def one(names: Array[String], what: String) =
        if (names.length == 1) names(0)
        else throw new UnsupportedOperationException(s"nested column $what is not supported")
      ch match {
        case a: TableChange.AddColumn =>
          acc.addColumn(one(a.fieldNames(), "add"), a.dataType(),
            Option(a.defaultValue()).map(d => defaultLiteral(d.getSql)))
        case u: TableChange.UpdateColumnDefaultValue =>
          acc.setWriteDefault(one(u.fieldNames(), "default"),
            defaultLiteral(u.newCurrentDefault().getSql))
        case r: TableChange.RenameColumn => acc.renameColumn(one(r.fieldNames(), "rename"), r.newName())
        case u: TableChange.UpdateColumnType =>
          acc.widenColumn(one(u.fieldNames(), "type change"), u.newDataType())
        case d: TableChange.DeleteColumn =>
          val name = one(d.fieldNames(), "drop")
          if (d.ifExists() && !acc.schema.fieldNames.contains(name)) acc
          else acc.dropColumn(name)
        case _ => acc
      }
    }
    val props = changes.collect {
      case s: TableChange.SetProperty => s.property() -> s.value()
    }.toMap
    // UNSET of a key the table lacks is a no-op (IF EXISTS semantics)
    val unset = changes.collect { case r: TableChange.RemoveProperty => r.property() }
    // the format-version property is the v2→v3 upgrade — mint next-row-id
    // and land the remaining properties in the SAME commit (a two-commit
    // ALTER could be half-applied if a concurrent writer lands between)
    val t2 = props.get("format-version") match {
      case Some(v) => Procedures.upgradeFormatVersion(evolved, v.toInt,
        extraProps = props - "format-version")
      case None if props.nonEmpty || unset.nonEmpty =>
        evolved.withMeta(evolved.meta.copy(props = evolved.meta.props -- unset ++ props))
      case None => evolved
    }
    new LakeV2Table(t2)
  }

  /** A DEFAULT clause's literal as the table records it: the SQL text
    * folded to its string value (`'en'` → `en`, `7` → `7`); the engine
    * checks it against the column type. */
  private def defaultLiteral(sql: String): String = {
    val folded = org.apache.spark.sql.catalyst.expressions.Cast(
      SparkSession.active.sessionState.sqlParser.parseExpression(sql),
      org.apache.spark.sql.types.StringType)
    Option(scala.util.Try(folded.eval()).getOrElse(null)).map(_.toString)
      .getOrElse(throw new IllegalArgumentException(
        s"DEFAULT $sql is not a non-null literal"))
  }

  override def dropTable(ident: Identifier): Boolean = {
    cat.loadTable(db(ident), ident.name())
      .foreach(t => Grants.require(SparkSession.active, t, "DROP"))
    cat.dropTable(db(ident), ident.name())
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    // same contract as Iceberg's directory-keyed HadoopCatalog: table
    // identity IS its path, so rename would invalidate every absolute
    // file reference in the snapshot history
    throw new UnsupportedOperationException(
      "rename is not supported by a path-keyed catalog (Iceberg HadoopCatalog rule)")

  // ----------------------------------------------------------------- views

  /** Native V2 views (M49): `CREATE VIEW lake.db.v AS …` and reads of it
    * resolve through Spark's own ViewCatalog machinery — the analyzer
    * parses the stored text with `currentCatalog` pointed back here, so
    * underlying `db.t` references become native lake relations and every
    * SELECT grant gate fires with the READER's principal (invoker
    * rights, same rule as LakeSql's view expansion). Storage is
    * the same one-JSON-per-view metadata LakeSql uses, so both
    * surfaces see one view namespace. */
  override def listViews(namespace: String*): Array[Identifier] = {
    if (namespace.length != 1)
      throw new NoSuchNamespaceException(namespace.toArray)
    cat.listViews(namespace(0))
      .map(v => Identifier.of(namespace.toArray, v)).toArray
  }

  override def loadView(ident: Identifier): View = {
    val vm = cat.viewInfo(db(ident), ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val catName = catalogName
    new View {
      override def name(): String = ident.toString
      override def query(): String = vm.sql
      override def currentCatalog(): String = catName
      override def currentNamespace(): Array[String] = vm.namespace.toArray
      override def schema(): StructType =
        if (vm.schemaDdl.nonEmpty) StructType.fromDDL(vm.schemaDdl)
        else new StructType()
      override def queryColumnNames(): Array[String] =
        vm.queryColumnNames.toArray
      override def columnAliases(): Array[String] = vm.columnAliases.toArray
      override def columnComments(): Array[String] = vm.columnComments.toArray
      override def properties(): JMap[String, String] = vm.props.asJava
    }
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    cat.createView(db(ident), ident.name(), ViewMetadata(
      name = s"${db(ident)}.${ident.name()}",
      sql = info.sql(),
      schemaDdl = info.schema().toDDL,
      currentCatalog = info.currentCatalog(),
      namespace = info.currentNamespace().toSeq,
      queryColumnNames = info.queryColumnNames().toSeq,
      columnAliases = info.columnAliases().toSeq,
      columnComments = info.columnComments().toSeq,
      props = info.properties().asScala.toMap))
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View =
    throw new UnsupportedOperationException(
      "ALTER VIEW is not supported — CREATE OR REPLACE VIEW instead")

  override def dropView(ident: Identifier): Boolean =
    cat.dropView(db(ident), ident.name())

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // views are one JSON document — rename is read + write-new + drop,
    // unlike path-keyed tables
    val vm = cat.viewInfo(db(oldIdent), oldIdent.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent))
    cat.createView(db(newIdent), newIdent.name(),
      vm.copy(name = s"${db(newIdent)}.${newIdent.name()}"))
    cat.dropView(db(oldIdent), oldIdent.name())
  }

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] =
    cat.listNamespaces().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    // namespaces are single-level: an existing leaf has no children
    // (SupportsNamespaces contract: empty array, not an error)
    else if (namespace.length == 1 && cat.namespaceExists(namespace(0))) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    if (namespace.length == 1 && cat.namespaceExists(namespace(0)))
      Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String], metadata: JMap[String, String]): Unit = {
    // reject nested namespaces instead of silently creating a truncated
    // one (`CREATE NAMESPACE lake.a.b` must not materialize plain `a`)
    if (namespace.length != 1)
      throw new UnsupportedOperationException(
        s"nested namespaces are not supported: ${namespace.mkString(".")}")
    cat.createNamespace(namespace(0))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alter namespace is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    false // namespaces are directories shared with tables; not dropped here
}

/** Read-only V2 table handle; the scan is the engine's MoR-aware
  * DataFrame surfaced through the V1Scan bridge (same public bridge the
  * built-in JDBC source uses). The bridged relation is a
  * PrunedFilteredScan: column pruning reaches the parquet reader and
  * equality/IN filters on partition columns prune data files at the
  * metadata level before any I/O (§4.2). All filters are conservatively
  * re-applied by Spark above the scan (unhandledFilters default), so the
  * pushdown is purely an optimization. */
object LakeV2Table {
  /** DSv2 metadata columns: each row's physical coordinates, the same
    * `(file, position)` pair the MoR machinery keys on (Iceberg's
    * `_file`/`_pos`). They double as the rowId for native DELETE. */
  val FilePathMeta = "_file_path"
  val PosMeta = "_pos"

  /** Test observability: the filters Catalyst pushed into the most
    * recent scan build (thread-confined enough for the single-session
    * test harness). Lets specs assert that a native DML condition
    * reached the metadata file-pruning layer rather than only being
    * applied above the scan. */
  @volatile private[lake] var lastPushedFilters: Seq[String] = Nil

  /** Metadata-level partition predicate from the pushed filters: a file
    * survives if every partition constraint admits its recorded
    * partition value. Delegates to [[PartitionPruning.predicate]] (M36)
    * — transform-aware (a filter on the SOURCE column prunes bucketed /
    * truncated / calendar partitions) and range-capable through monotone
    * transforms. A constraint whose value (or, for IN, ANY element)
    * can't render is dropped entirely — partial IN pruning would drop
    * files matching the unrenderable elements. Static, because the scan
    * build AND the CoW commit ([[LakeCowBatchWrite]]) must evaluate the
    * SAME pure function of (filters, partition values) — a shared
    * definition is what makes their group scopes provably identical. */
  private[lake] def partitionPredicate(transforms: Seq[PartitionTransform],
      filters: Array[Filter]): Map[String, String] => Boolean =
    PartitionPruning.predicate(transforms, filters.toSeq)
}

/** Read-only V2 handle for a metadata table (`lake.db.t.history` /
  * `.snapshots` / `.files`): driver-side snapshot-header projections
  * (metadata-scale — no data file is opened), bridged through V1Scan
  * like the main scan. SELECT on the base table gates access for the
  * principal that loaded the handle. */
class LakeMetaV2Table(
    tableName: String, base: LakeTable,
    make: LakeTable => org.apache.spark.sql.DataFrame,
    principal: Option[String])
    extends Table with SupportsRead {

  private lazy val df = make(base)

  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    Grants.require(principal, base, "SELECT")
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = df.schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = df.schema
            override def buildScan(): RDD[Row] = df.rdd
          }.asInstanceOf[T]
      }
    }
  }
}

/** Read-only V2 handle for a stored view (M49), reached by direct
  * `spark.sql` users of `lake.db.v`: the scan is [[LakeSql.run]]'s
  * expansion of the view — late-binding (re-planned per scan) and
  * invoker-rights (the loading principal rides into every underlying
  * table's SELECT gate). `LakeSql.run` itself expands views on the parsed
  * plan, so this handle never loads under it and the call cannot recurse.
  * View DDL stays on LakeSql. */
class LakeViewV2Table(viewName: String, vm: ViewMetadata, cat: LakeCatalog,
    principal: Option[String])
    extends Table with SupportsRead {

  // resolve BY NAME, not by inlining vm.sql: LakeSql's view expansion
  // owns the materialized-view fast path (M51 freshness → storage scan)
  private def plan(): org.apache.spark.sql.DataFrame =
    new LakeSql(cat).run(s"SELECT * FROM ${vm.name}", principal)

  // late-binding: the CURRENT expansion's schema, not the stored one —
  // underlying-table evolution since CREATE VIEW must not desync the
  // analyzer's view of the columns from what the scan produces
  private lazy val analyzed = plan().schema

  override def name(): String = viewName
  override def schema(): StructType = analyzed
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        private lazy val df = plan() // fresh expansion per scan build
        override def readSchema(): StructType = df.schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = df.schema
            override def buildScan(): RDD[Row] = df.rdd
          }.asInstanceOf[T]
      }
    }
}

/** `principal` is the one the catalog resolved when it loaded the handle
  * ([[Grants.principal]]); every gate on this handle checks it. */
class LakeV2Table(t: LakeTable, pinnedSnapshot: Option[Long] = None,
    private[lake] val principal: Option[String] =
      Grants.principal(SparkSession.active))
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns with SupportsRowLevelOperations
    with SupportsDelete {
  import LakeV2Table._

  /** Iceberg's metadata DELETE on the native path: when every file the
    * predicate might touch is provably all-match (identity-partition
    * equality/IN proof — [[LakeTable.metadataDeleteSet]]), Spark's
    * OptimizeMetadataOnlyDeleteFromTable converts the row-level plan
    * into this filter delete: one metadata commit dropping whole files,
    * no scan, no delta writes. canDeleteWhere answers on the
    * analysis-time handle; deleteWhere re-proves on a FRESH reload so a
    * commit landing in between can never widen the delete — a proof that
    * no longer holds fails loudly (retryable), exactly like the delta
    * paths' CAS. A WHERE-less DELETE and TRUNCATE TABLE arrive as
    * `AlwaysTrue` and truncate the reloaded table: every live data and
    * delete file drops. The handle that commit returns (one version past
    * the reload) is what [[committed]] hands back. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinnedSnapshot.isEmpty &&
      (deletesAll(filters) || t.metadataDeleteSet(filters.toSeq).isDefined)

  private def deletesAll(filters: Array[Filter]): Boolean =
    filters.nonEmpty && filters.forall(_.isInstanceOf[AlwaysTrue])

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requirePerm("DELETE")
    val fresh = t.reloaded()
    committed = Some(
      if (deletesAll(filters)) fresh.truncate()
      else fresh.metadataDeleteIfProvable(filters.toSeq).getOrElse(
        throw new IllegalStateException(
          s"metadata DELETE on ${t.name}: the whole-file proof no longer " +
            "holds after reload (a concurrent commit changed the file " +
            "set) — retry the statement")))
  }

  // NativeReadRule swaps eligible SQL reads onto LakeTable.read()'s plan
  private[lake] def lakeTable: LakeTable = t
  private[lake] def pinned: Option[Long] = pinnedSnapshot

  /** The handle returned by the latest commit made through this table —
    * a row-level write, a metadata delete or an append. [[LakeTable]]'s
    * DML hands it back so chained calls keep CAS-ing forward. */
  @volatile private[lake] var committed: Option[LakeTable] = None

  private def metaCol(n: String, dt: org.apache.spark.sql.types.DataType) =
    new MetadataColumn {
      override def name(): String = n
      override def dataType(): org.apache.spark.sql.types.DataType = dt
      override def isNullable: Boolean = false
    }

  override def metadataColumns(): Array[MetadataColumn] = {
    val coords = Array(
      metaCol(FilePathMeta, org.apache.spark.sql.types.StringType),
      metaCol(PosMeta, org.apache.spark.sql.types.LongType))
    // v3 row lineage is selectable too (Iceberg's _file/_pos/_row_id)
    if (t.meta.formatVersion >= 3 && t.meta.nextRowId >= 0)
      coords :+ metaCol(LakeTable.RowIdCol, org.apache.spark.sql.types.LongType)
    else coords
  }

  /** Native row-level DML entry: DELETE/UPDATE/MERGE run as distributed
    * delta writes ([[LakeRowLevelOperation]] → WriteDelta) on
    * merge-on-read tables, and as group-based rewrites
    * ([[LakeCowRowLevelOperation]] → ReplaceData) on copy-on-write
    * tables — the CoW path rewrites whole files and never mints a delete
    * file, so strict v2 readers keep working (VERDICT r6 next #2). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    if (pinnedSnapshot.isDefined)
      throw new UnsupportedOperationException(
        "cannot run DML against a time-travel (snapshot-pinned) table")
    val modeKey = info.command() match {
      case RowLevelOperation.Command.DELETE => "write.delete.mode"
      case _ => "write.update.mode"
    }
    val mor = t.meta.props.getOrElse(modeKey, "copy-on-write") == "merge-on-read"
    // Rows carrying _row_id through the plan need minted lineage: the
    // delta path projects it for UPDATE/MERGE; the CoW path rewrites
    // (copies) rows for EVERY command. A v3 table with unminted lineage
    // would otherwise die later with an unresolved-metadata-column
    // analysis error instead of this pointer
    if ((info.command() != RowLevelOperation.Command.DELETE || !mor) &&
        t.meta.formatVersion >= 3 && t.meta.nextRowId < 0)
      throw new MissingRowLineageException(
        s"${t.name} is format-version 3 but metadata has no next-row-id; " +
          "run repair_v3_metadata before DML")
    requirePerm("DELETE")
    if (info.command() != RowLevelOperation.Command.DELETE)
      requirePerm("INSERT") // rewrites/inserts add data files
    () =>
      if (mor) new LakeRowLevelOperation(this, info.command())
      else new LakeCowRowLevelOperation(this, info.command())
  }

  override def name(): String =
    t.name + pinnedSnapshot.map(id => s"@$id").getOrElse("")

  /** Grants hook on the native path (VERDICT r4 #8 / r5 next #5): reads
    * need SELECT, appends INSERT, overwrites and DML DELETE(+INSERT) —
    * checked once, here, for every statement [[LakeSql.run]] routes.
    * Shared rule lives in [[Grants]]. */
  private def requirePerm(perm: String): Unit =
    Grants.require(principal, t, perm)
  /** The table schema, with each v3 write-default (M46) as Spark's
    * column-default metadata, so a column-list INSERT fills unlisted
    * columns the way the table declares. */
  override def schema(): StructType = {
    val defaults = t.meta.columnDefaults.flatMap(d => d.write.map(d.colName -> _)).toMap
    if (defaults.isEmpty) t.schema
    else StructType(t.schema.fields.map(f => defaults.get(f.name).fold(f) { v =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString("CURRENT_DEFAULT",
          s"CAST('${v.replace("'", "''")}' AS ${f.dataType.sql})")
        .build())
    }))
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** `INSERT INTO lake.db.t …` appends; `INSERT OVERWRITE` (Spark calls
    * `truncate()` on the builder) replaces the live file set. The write
    * commits from a handle reloaded at execution time, so it CAS-es
    * against the version current then, not at analysis. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              if (pinnedSnapshot.isDefined)
                throw new UnsupportedOperationException(
                  "cannot write to a time-travel (snapshot-pinned) table")
              if (replace || overwrite) requirePerm("DELETE")
              requirePerm("INSERT")
              val cur = t.reloaded()
              // dynamic partition overwrite can't reach here: the V1
              // write bridge has no dynamic exec, so Spark refuses the
              // statement at analysis (TableCapabilityCheck) — LakeSql
              // and overwriteDynamic() are the surfaces that carry those
              // semantics
              committed = Some(
                if (replace || overwrite) cur.overwrite(data) else cur.append(data))
            }
          }
      }
    }
  override def properties(): JMap[String, String] =
    (t.meta.props + ("format-version" -> t.meta.formatVersion.toString)).asJava

  private def partitionPredicate(
      filters: Array[Filter]): Map[String, String] => Boolean =
    LakeV2Table.partitionPredicate(t.transforms, filters)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    requirePerm("SELECT")
    new ScanBuilder
      with SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      // The V1 bridge invokes the relation's no-arg buildScan() and
      // expects pushed state baked in, so the builder accumulates it.
      // Every filter is reported back as post-scan (Spark re-evaluates
      // them all above the scan) — pushdown here is purely metadata file
      // pruning + column pruning, never a correctness dependency.
      private var pushed: Array[Filter] = Array.empty
      private var required: StructType = t.schema

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters
        LakeV2Table.lastPushedFilters = filters.map(_.toString).toSeq
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): Scan = new V1Scan
          with org.apache.spark.sql.connector.read.SupportsReportStatistics {
        /** Planner statistics (M50): without this, the V1 bridge reports
          * Spark's default "unknown = infinite" size and a small lake
          * dimension table NEVER auto-broadcasts at plan time. Size/rows
          * come from file metadata (pruned by the pushed filters — the
          * estimate tracks what the scan will actually read), position/
          * DV delete counts subtract, and ANALYZE's per-column NDV/null
          * stats ride along for the CBO. Overestimates are the safe
          * direction (a missed broadcast, never an OOM'd one). */
        override def estimateStatistics():
            org.apache.spark.sql.connector.read.Statistics = {
          def delRows(ds: Seq[DeleteFileMeta]): Long = ds
            .filter(d => d.kind == "position" || d.kind == "dv")
            .map(_.rowCount).sum
          // Delete attribution (ADVICE r9 #5): a position/DV delete's
          // target file lives in the delete file's CONTENT, not its
          // metadata, so the subtraction is only sound when the delete
          // set provably targets the files being scanned — the pinned
          // snapshot's OWN deletes on the time-travel path, the current
          // deletes when no file was pruned. A pruned scan skips the
          // subtraction entirely: deletes aimed at pruned-away files
          // would undercount rows, and an UNDERestimate is the unsafe
          // direction (it can flip a huge side to broadcast and OOM).
          val (files, deleted) = pinnedSnapshot match {
            case Some(id) =>
              val sn = t.meta.snapshots.find(_.id == id)
              (sn.map(_.dataFiles).getOrElse(Nil),
                delRows(sn.map(_.deleteFiles).getOrElse(Nil)))
            case None =>
              val partPred = partitionPredicate(pushed)
              val statsPred = StatsPruning.filePredicate(t.schema, pushed.toSeq)
              val all = t.dataFiles
              val fs = all.filter(f => partPred(f.partitionValues) && statsPred(f))
              (fs, if (fs.size == all.size) delRows(t.deleteFiles) else 0L)
          }
          val bytes = files.map(_.sizeBytes).sum
          val rows = math.max(0L, files.map(_.rowCount).sum - deleted)
          val colStats = t.meta.tableStats.map { ts =>
            ts.columns.filter(c => required.fieldNames.contains(c.col))
              .map { c =>
                val ref = org.apache.spark.sql.connector.expressions
                  .Expressions.column(c.col)
                // [min, max] folds the scanned files' footer bounds —
                // without an interval, FilterEstimation's equality path
                // judges every numeric literal out of range (selectivity
                // 0: an UNDERestimate, the unsafe direction)
                val bound = t.schema.fields.find(_.name == c.col)
                  .flatMap(f => StatsPruning.globalBounds(f.dataType, files, c.col)
                    .map { case (lo, hi) =>
                      (StatsPruning.plannerValue(f.dataType, lo),
                        StatsPruning.plannerValue(f.dataType, hi))
                    })
                def opt(v: Option[Option[Any]]): java.util.Optional[Object] =
                  v.flatten match {
                    case Some(x) => java.util.Optional.of(x.asInstanceOf[Object])
                    case None => java.util.Optional.empty()
                  }
                val stat = new org.apache.spark.sql.connector.read.colstats
                    .ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(c.ndv)
                  override def nullCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(c.nulls)
                  override def avgLen(): java.util.OptionalLong =
                    java.util.OptionalLong.of(c.avgLen)
                  override def maxLen(): java.util.OptionalLong =
                    java.util.OptionalLong.of(c.maxLen)
                  override def min(): java.util.Optional[Object] =
                    opt(bound.map(_._1))
                  override def max(): java.util.Optional[Object] =
                    opt(bound.map(_._2))
                }
                (ref: org.apache.spark.sql.connector.expressions.NamedReference,
                  stat)
              }.toMap
          }.getOrElse(Map.empty)
          new org.apache.spark.sql.connector.read.Statistics {
            override def sizeInBytes(): java.util.OptionalLong =
              java.util.OptionalLong.of(bytes)
            override def numRows(): java.util.OptionalLong =
              java.util.OptionalLong.of(rows)
            override def columnStats(): java.util.Map[
                org.apache.spark.sql.connector.expressions.NamedReference,
                org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
              colStats.asJava
          }
        }
        override def readSchema(): StructType = required
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = required
            // same numbers for the V1-converted LogicalRelation path
            override def sizeInBytes: Long =
              t.dataFiles.map(_.sizeBytes).sum.max(1L)
            override def buildScan(): RDD[Row] = {
              // pinned (time-travel) reads scan the historical snapshot
              // verbatim — metadata pruning applies to current-state
              // scans only; column pruning still narrows the reader
              val wantsRowIds = required.fieldNames.contains(LakeTable.RowIdCol)
              val wantsCoords = wantsRowIds || required.fieldNames
                .exists(n => n == FilePathMeta || n == PosMeta)
              val prunedFiles = (pinnedSnapshot, wantsCoords) match {
                case (Some(_), true) =>
                  throw new UnsupportedOperationException(
                    "metadata columns are not available on time-travel scans")
                case (Some(id), false) => t.readSnapshot(id)
                case (None, true) =>
                  // rowId path (native row-level DML) and explicit
                  // metadata-col selects read the same MoR scan plus
                  // coordinates (and v3 lineage ids when asked)
                  t.readWithCoords(
                    partitionFilter = partitionPredicate(pushed),
                    withRowIds = wantsRowIds,
                    fileFilter = StatsPruning.filePredicate(t.schema, pushed.toSeq))
                    .withColumn(FilePathMeta,
                      org.apache.spark.sql.functions.col(LakeTable.FileCol))
                    .withColumn(PosMeta,
                      org.apache.spark.sql.functions.col(LakeTable.PosCol))
                case (None, false) => t.read(
                  partitionFilter = partitionPredicate(pushed),
                  fileFilter = StatsPruning.filePredicate(t.schema, pushed.toSeq))
              }
              val narrowed =
                if (required.isEmpty) prunedFiles.select()
                else prunedFiles.select(required.fieldNames
                  .map(org.apache.spark.sql.functions.col).toSeq: _*)
              narrowed.rdd
            }
          }.asInstanceOf[T]
      }
    }
  }
}

/** Hive-path renderings of filter values for metadata-level partition
  * pruning. A constraint can arrive in two value domains —
  * catalyst-internal literals (NativeReadRule's splice) and v1-external
  * source-filter values (the bridged/DML ScanBuilder) — and both reach
  * this one renderer through [[PartitionTransform.toInternal]]. Pruning
  * at this level is load-bearing — a file dropped here is never
  * re-checked by the filter above the scan — so any value that is not
  * byte-identical to `partitionValuesFromPath`'s rendering returns None
  * and the constraint simply doesn't prune. */
private[lake] object PartitionFilterValues {

  /** Catalyst-internal literal values (dates are epoch-day Ints). */
  def internal(v: Any, dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    (dt, v) match {
      case (_, null) => None
      case (StringType, s: org.apache.spark.unsafe.types.UTF8String) => Some(s.toString)
      case (BooleanType, b: Boolean) => Some(b.toString)
      case (ByteType | ShortType | IntegerType | LongType, n) => Some(n.toString)
      case (DateType, days: Int) =>
        Some(java.time.LocalDate.ofEpochDay(days.toLong).toString)
      case _ => None
    }
  }
}
