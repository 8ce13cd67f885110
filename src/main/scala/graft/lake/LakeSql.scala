package graft.lake

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, RelationTimeTravel, UnresolvedAttribute, UnresolvedIdentifier, UnresolvedProcedure, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal, NamedArgumentExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HllSketchAgg, HllUnionAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, AlterColumns, Call, Command, CreateTable, CreateTableAsSelect, DeleteFromTable, Distinct, DropColumns, DropTable, ExecutableDuringAnalysis, Filter, InsertIntoDir, InsertIntoStatement, Join, LogicalPlan, MergeIntoTable, ParsedStatement, Project, RenameColumn, SetTableProperties, SubqueryAlias, TruncateTable, UnresolvedWith, UnsetTableProperties, UpdateTable}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType

/** Denied by the grants model (M10) — the Lake-Formation-style permission
  * check the reference provisions (lake_formation_setup.py:93-171),
  * enforced by the native catalog's gates and by the statements
  * [[LakeSql]] keeps. */
class AccessDeniedException(msg: String) extends RuntimeException(msg)

class SqlParseException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** S8: the SQL front door replacing the reference's ssh→spark-sql channel
  * (upgrade_table.py:59-97). The reference is 100% SQL-string driven, so
  * its statement sequences replay here verbatim.
  *
  * Every statement Spark can plan goes to Spark: `run` parses it with
  * the session's parser, qualifies each lake name on the parsed plan
  * (`db.t` → `lake.db.t`, `db.t.files` → `lake.db.t.files`, bare and
  * `system.` procedure names → `lake.system.<proc>`; one-part names stay
  * session names), pins this instance's [[LakeCatalog]] and principal
  * for the statement, and hands the plan to Catalyst. The DSv2 catalog
  * ([[LakeSparkCatalog]], [[LakeRowLevelOperation]], [[LakeProcedures]]) then
  * plans SELECT/WITH (time travel and metadata tables included), INSERT,
  * static INSERT OVERWRITE, TRUNCATE, DELETE, UPDATE, MERGE, CREATE
  * TABLE (CTAS too), DROP TABLE, ALTER TABLE SET/UNSET TBLPROPERTIES,
  * RENAME COLUMN, ALTER COLUMN TYPE, DROP COLUMN and CALL, and its gates
  * check the grants. A lake VIEW name is replaced by its analysed
  * expansion first. Any other statement Spark parses is refused.
  *
  * What Spark cannot express, or whose output shape is ours, stays here:
  * CREATE/DROP VIEW, CREATE/REFRESH MATERIALIZED VIEW, SHOW, DESCRIBE,
  * the other ALTER TABLE spellings, and dynamic-mode
  * (`partitionOverwriteMode`) INSERT OVERWRITE.
  *
  * When `principal` is given, table grants gate each statement (ALL
  * implies everything; UPDATE and MERGE need DELETE+INSERT). Concurrent
  * `run` calls are safe: the pin is per thread.
  */
class LakeSql(val catalog: LakeCatalog) {

  import LakeSql._

  private def spark = catalog.spark

  // direct spark.sql users resolve lake.db.t here; run() pins its catalog
  spark.conf.set(LakeExtensions.WarehouseConf, catalog.warehouse.toString)
  for (name <- CatalogNames; key = s"spark.sql.catalog.$name"
       if spark.conf.getOption(key).isEmpty)
    spark.conf.set(key, classOf[LakeSparkCatalog].getName)
  V1StatsRule.install(spark) // bridged-scan stats for the planner (M50)

  def run(sql: String, principal: Option[String] = None): DataFrame = {
    val s = sql.trim.stripSuffix(";").trim
    val up = s.toUpperCase
    withPin(Pin(catalog, principal)) {
      if (up.startsWith("CREATE MATERIALIZED VIEW") ||
        up.startsWith("CREATE OR REPLACE MATERIALIZED VIEW"))
        createMaterializedViewStmt(s, principal)
      else if (up.startsWith("REFRESH MATERIALIZED VIEW"))
        refreshMaterializedViewStmt(s, principal)
      else if (up.startsWith("CREATE VIEW") ||
        up.startsWith("CREATE OR REPLACE VIEW")) createViewStmt(s, principal)
      else if (up.startsWith("DROP VIEW")) dropViewStmt(s, principal)
      else if (up.startsWith("INSERT OVERWRITE") && dynamicOverwrite)
        insertOverwriteDynamic(s, principal)
      else if (up.startsWith("ALTER TABLE") && !sparkAlter(s)) alter(s, principal)
      else if (up.startsWith("DESCRIBE")) describe(s, principal)
      else if (up.startsWith("SHOW")) show(s, up, principal)
      else query(s, principal)
    }
  }

  /** One statement through Catalyst on the pinned catalog. Commands run
    * eagerly; a query is optimised here, so its grants gates (which run
    * at optimisation) fire inside `run`. Parse and analysis failures
    * surface as [[SqlParseException]] with Spark's message and cause.
    * Spark returns no rows for INSERT/DELETE/UPDATE/MERGE; those report
    * the target's head snapshot as one status row instead. */
  private def query(s: String, p: Option[String], depth: Int = 0,
      swap: Map[(String, String), LogicalPlan] = Map.empty): DataFrame = {
    val parsed = parse(s)
    if (!routed(parsed)) throw new SqlParseException(s"unsupported statement: ${s.take(60)}")
    val plan = qualify(parsed, p, depth, swap)
    val df =
      try ColumnBridge.ofRows(spark, plan)
      catch { case e: AnalysisException => throw new SqlParseException(e.getMessage, e) }
    df.queryExecution.optimizedPlan
    val target = Some(plan).collect {
      case i: InsertIntoStatement => i.table
      case d: DeleteFromTable => d.table
      case u: UpdateTable => u.table
      case m: MergeIntoTable => m.targetTable
    }
    val head = target.map(EliminateSubqueryAliases(_)).collect {
      case UnresolvedRelation(Seq(_, db, t), _, _) =>
        Meta.loadHeaders(catalog.tableLocation(db, t)).flatMap(_.currentSnapshot)
          .map((s"$db.$t", _))
    }.flatten
    head.fold(df) { case (name, sn) =>
      val counts = sn.summary.collect {
        case (k, v) if k.endsWith("-records") => s"${k.stripSuffix("-records")}=$v"
      }.toSeq.sorted
      status(s"${sn.operation} $name at snapshot ${sn.id}" +
        (if (counts.isEmpty) "" else counts.mkString(" (", ", ", ")")))
    }
  }

  /** The statements `run` hands to Spark: a query, or INSERT, DELETE,
    * UPDATE, MERGE, CREATE TABLE (CTAS too), DROP TABLE, TRUNCATE TABLE,
    * the ALTER TABLE changes [[LakeSparkCatalog.alterTable]] applies, or
    * CALL — each on a lake table or procedure, where the catalog's grants
    * gates check it. Anything else Spark parses (SET, INSERT OVERWRITE
    * DIRECTORY, ADD JAR, CACHE TABLE, a session-catalog target …) is
    * outside the grants model and refused. */
  private def routed(plan: LogicalPlan): Boolean = {
    def lake(parts: Seq[String]) = lakeName(parts) match {
      case Seq(c, _, _) => CatalogNames(c)
      case _ => false
    }
    def target(pl: LogicalPlan) = EliminateSubqueryAliases(pl) match {
      case r: UnresolvedRelation => lake(r.multipartIdentifier)
      case u: UnresolvedIdentifier => lake(u.nameParts)
      case u: UnresolvedTable => lake(u.multipartIdentifier)
      case _ => false
    }
    def readOnly(pl: LogicalPlan) = pl.find {
      case _: Command | _: ParsedStatement | _: InsertIntoDir | _: ExecutableDuringAnalysis => true
      case _ => false
    }.isEmpty
    plan match {
      case w: UnresolvedWith => routed(w.child) && w.cteRelations.forall(c => readOnly(c._2))
      case i: InsertIntoStatement => target(i.table) && readOnly(i.query)
      case d: DeleteFromTable => target(d.table)
      case u: UpdateTable => target(u.table)
      case m: MergeIntoTable => target(m.targetTable) && readOnly(m.sourceTable)
      case c: CreateTable => target(c.name)
      case c: CreateTableAsSelect => target(c.name) && readOnly(c.query)
      case d: DropTable => target(d.child)
      case t: TruncateTable => target(t.table)
      case a @ (_: SetTableProperties | _: UnsetTableProperties | _: RenameColumn |
          _: DropColumns) => target(a.children.head)
      case a: AlterColumns => target(a.table) && a.specs.forall(c => c.newDataType.isDefined &&
        c.newNullability.isEmpty && c.newComment.isEmpty && c.newPosition.isEmpty &&
        c.newDefaultExpression.isEmpty && !c.dropDefault)
      case c: Call => c.procedure match {
        case UnresolvedProcedure(Seq(_)) => true
        case UnresolvedProcedure(Seq(sys, _)) => sys == "system"
        case UnresolvedProcedure(Seq(cat, sys, _)) => CatalogNames(cat) && sys == "system"
        case _ => false
      }
      case q => readOnly(q)
    }
  }

  /** An ALTER TABLE spelling Spark parses and the native catalog applies;
    * the others (tags, branches, write order, partition fields, ADD
    * COLUMN, SET DEFAULT) stay in [[alter]]. */
  private def sparkAlter(s: String): Boolean =
    try routed(parse(s)) catch { case _: SqlParseException => false }

  private def parse(s: String): LogicalPlan =
    try spark.sessionState.sqlParser.parsePlan(s)
    catch { case e: AnalysisException => throw new SqlParseException(e.getMessage, e) }

  /** Name qualification on the parsed plan: two-part relation, target
    * and CREATE/DROP/TRUNCATE names and `db.t.<metadata table>` gain the
    * `lake.` prefix; `lake.`/`glue_catalog.` names stay as spelled; a
    * lake view becomes its expansion; `swap` substitutes a plan for a
    * named table (the incremental MV refresh's increment). CALL names
    * resolve on `lake.system`, and a bare identifier argument
    * (`table => db.t`) reads as its name. */
  private def qualify(plan: LogicalPlan, p: Option[String], depth: Int,
      swap: Map[(String, String), LogicalPlan]): LogicalPlan =
    plan.transformUpWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, sa, d) =>
          (n, qualify(sa, p, depth, swap).asInstanceOf[SubqueryAlias], d) })
      // relations held as fields, not children
      case i: InsertIntoStatement => i.copy(table = qualifyLeaf(i.table))
      case tt: RelationTimeTravel => tt.copy(relation = qualifyLeaf(tt.relation))
      case r: UnresolvedRelation =>
        val parts = lakeName(r.multipartIdentifier)
        parts match {
          case Seq(c, db, t) if CatalogNames.contains(c) =>
            swap.get((db, t)).map(SubqueryAlias(parts, _))
              .orElse(catalog.viewInfo(db, t).map(vm =>
                SubqueryAlias(parts, expandView(db, t, vm, p, depth))))
              .getOrElse(r.copy(multipartIdentifier = parts))
          case _ => r.copy(multipartIdentifier = parts)
        }
      case u: UnresolvedIdentifier => u.copy(nameParts = lakeName(u.nameParts))
      case u: UnresolvedTable => u.copy(multipartIdentifier = lakeName(u.multipartIdentifier))
      case c: Call =>
        c.copy(
          procedure = c.procedure match {
            case UnresolvedProcedure(n) if n.size == 1 || n.size == 2 && n.head == "system" =>
              UnresolvedProcedure(Seq("lake", "system", n.last))
            case other => other
          },
          args = c.args.map {
            case a @ NamedArgumentExpression(_, id: UnresolvedAttribute) =>
              a.copy(value = Literal(id.nameParts.mkString(".")))
            case other => other
          })
    }

  private def qualifyLeaf(plan: LogicalPlan): LogicalPlan = plan match {
    case r: UnresolvedRelation => r.copy(multipartIdentifier = lakeName(r.multipartIdentifier))
    case other => other
  }

  /** A view's analysed expansion: the materialized storage while every
    * dependency sits at its stamp (M51), else the stored text, qualified
    * and analysed with the READER's principal (invoker rights — the
    * underlying tables' gates fire per read). The depth guard turns a
    * definition cycle into a clear error. */
  private def expandView(db: String, name: String, vm: ViewMetadata,
      p: Option[String], depth: Int): LogicalPlan = {
    if (depth >= MaxViewDepth) throw new SqlParseException(
      s"view nesting exceeds $MaxViewDepth expanding $db.$name — circular view definition?")
    val body =
      if (vm.props.get("materialized").contains("true") && mvFresh(vm, p))
        load(db, vm.props("storage")).read()
      else ColumnBridge.ofRows(spark, qualify(parse(vm.sql), p, depth + 1, Map.empty))
    body.queryExecution.analyzed
  }

  private def dynamicOverwrite: Boolean =
    spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      .equalsIgnoreCase("dynamic")

  // ------------------------------------------------------------ statements

  /** CREATE [OR REPLACE] VIEW db.v AS SELECT … (M49): one metadata
    * document, no data written. The definition is validated NOW (it must
    * parse and resolve, and the definer's SELECT grants fire on every
    * referenced table), but resolution stays LATE-BINDING — each read
    * re-expands the stored text with the READER's principal (invoker
    * rights, the Trino/Hive default), so views track underlying DML and
    * schema evolution and never widen anyone's access. */
  private def createViewStmt(s: String, p: Option[String]): DataFrame = {
    val m = ("""(?is)^CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+""" +
      """((?:SELECT|WITH)\s+.*)$""").r
      .findFirstMatchIn(s).getOrElse(
        fail("CREATE [OR REPLACE] VIEW db.v AS SELECT …", s))
    val (db, name) = splitName(m.group(2))
    val body = m.group(3).trim
    val probe = query(body, p)
    catalog.createNamespace(db)
    // replacing a MATERIALIZED view with a plain one reclaims its
    // storage table — otherwise the hidden table orphans
    if (m.group(1) != null)
      catalog.viewInfo(db, name)
        .filter(_.props.get("materialized").contains("true"))
        .flatMap(_.props.get("storage"))
        .foreach(st => catalog.dropTable(db, st))
    catalog.createView(db, name, ViewMetadata(
      name = s"$db.$name", sql = body, schemaDdl = probe.schema.toDDL,
      namespace = Seq(db),
      queryColumnNames = probe.schema.fieldNames.toSeq),
      orReplace = m.group(1) != null)
    status(s"Created view $db.$name")
  }

  private def dropViewStmt(s: String, p: Option[String]): DataFrame = {
    val m = """(?is)^DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$""".r
      .findFirstMatchIn(s).getOrElse(fail("DROP VIEW [IF EXISTS] db.v", s))
    val (db, name) = splitName(m.group(2))
    // a materialized view owns its storage table — drop both
    catalog.viewInfo(db, name)
      .filter(_.props.get("materialized").contains("true"))
      .flatMap(_.props.get("storage"))
      .foreach(st => catalog.dropTable(db, st))
    val dropped = catalog.dropView(db, name, ifExists = m.group(1) != null)
    status(
      if (dropped) s"Dropped view $db.$name" else s"View $db.$name did not exist")
  }

  // ------------------------------------------- materialized views (M51)

  /** CREATE [OR REPLACE] MATERIALIZED VIEW db.v AS SELECT … — the view
    * document plus a hidden lake STORAGE table (`db.__mv_<name>`)
    * holding the result, stamped with the snapshot id of every lake
    * table the definition references. Reads serve the storage while
    * every dependency still sits at its recorded snapshot and fall back
    * to LIVE expansion the moment one moved — correctness-first
    * (a stale MV can never serve stale rows), refresh restores the fast
    * path. A dependency that is itself a view marks the MV permanently
    * stale (conservative: view text gives no snapshot to pin). */
  private def createMaterializedViewStmt(s: String, p: Option[String]): DataFrame = {
    val m = ("""(?is)^CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+""" +
      """([\w.]+)\s+AS\s+((?:SELECT|WITH)\s+.*)$""").r
      .findFirstMatchIn(s).getOrElse(
        fail("CREATE [OR REPLACE] MATERIALIZED VIEW db.v AS SELECT …", s))
    val (db, name) = splitName(m.group(2))
    val body = m.group(3).trim
    val orReplace = m.group(1) != null
    val storage = s"__mv_$name"
    catalog.createNamespace(db)
    if (!orReplace && catalog.viewExists(db, name))
      throw new IllegalArgumentException(s"view $db.$name already exists")
    if (orReplace && catalog.tableExists(db, storage))
      catalog.dropTable(db, storage)
    // stamp dependencies BEFORE materializing: a base commit landing
    // mid-compute then leaves the stamp OLDER than the data, which reads
    // as stale → live fallback (correct). Stamping after would read as
    // fresh for data the storage never saw — stale rows served as fresh.
    val deps = mvDeps(body)
    val df = query(body, p) // definer's SELECT grants fire here
    writeStorage(db, storage)(df.writeTo(_).create())
    catalog.createView(db, name, ViewMetadata(
      name = s"$db.$name", sql = body, schemaDdl = df.schema.toDDL,
      namespace = Seq(db),
      queryColumnNames = df.schema.fieldNames.toSeq,
      props = Map("materialized" -> "true", "storage" -> storage,
        "deps" -> deps)),
      orReplace = orReplace)
    status(s"Created materialized view $db.$name")
  }

  private def refreshMaterializedViewStmt(s: String, p: Option[String]): DataFrame = {
    val m = """(?is)^REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*$""".r
      .findFirstMatchIn(s).getOrElse(fail("REFRESH MATERIALIZED VIEW db.v", s))
    val (db, name) = splitName(m.group(1))
    val vm = catalog.viewInfo(db, name)
      .filter(_.props.get("materialized").contains("true"))
      .getOrElse(throw new SqlParseException(
        s"$db.$name is not a materialized view"))
    // stamp ordering (see createMaterializedViewStmt): the recorded deps
    // must never be NEWER than the data the storage holds — incremental
    // returns the exact head it applied; the full path stamps before the
    // recompute, so a mid-recompute commit reads as stale, never fresh
    val (how, stamp) = incrementalRefresh(vm, p) match {
      case Some((added, applied)) => (s"incrementally (+$added rows)", applied)
      case None =>
        val pre = mvDeps(vm.sql)
        val df = query(vm.sql, p)
        writeStorage(db, vm.props("storage"))(df.writeTo(_).overwrite(lit(true)))
        ("(full recompute)", pre)
    }
    catalog.createView(db, name,
      vm.copy(props = vm.props + ("deps" -> stamp)),
      orReplace = true)
    status(s"Refreshed materialized view $db.$name $how")
  }

  /** MV storage is internal to the view: the caller's grants fired on the
    * definition's dependencies, so the storage write itself goes through
    * the native catalog administratively. */
  private def writeStorage(db: String, storage: String)(write: String => Unit): Unit =
    withPin(Pin(catalog, None))(write(s"lake.`$db`.`$storage`"))

  /** Incremental MV maintenance (M51): when the definition is a pure
    * single-table SELECTION/PROJECTION — analyzed plan is only
    * deterministic Project/Filter nodes (no aggregate, join, distinct,
    * window, limit, or predicate subquery) over the one dependency —
    * and that dependency advanced by APPEND commits alone since the
    * stamped snapshot, the new state is exactly old ⊎ σπ(increment):
    * refresh applies the view text to `readIncremental(stamp, head]`
    * and APPENDS the result to storage — O(increment), never O(table).
    * Anything else returns None → full recompute. The eligibility test
    * is the PLAN, so expression spellings can't fool it.
    * @return (rows appended, the exact dep stamp APPLIED — `db.t=head`
    *         for the head the increment ran to, so a commit landing
    *         after the walk can only make the stamp look stale). */
  private def incrementalRefresh(
      vm: ViewMetadata, p: Option[String]): Option[(Long, String)] = {
    val deps = vm.props.getOrElse("deps", "")
    if (deps.isEmpty) return None
    // every dependency must be snapshot-pinned (VIEW/EXTERNAL → full)
    val parsed: Seq[(String, String, Long)] = deps.split(",").toSeq.map { d =>
      val Array(ref, st) = d.split("=", 2)
      val stamp = st.toLongOption.getOrElse(return None)
      val (tdb, tname) = splitName(ref)
      (tdb, tname, stamp)
    }
    val states = parsed.map { case (tdb, tname, stamp) =>
      val t = catalog.loadTable(tdb, tname).getOrElse(return None)
      val head = t.currentSnapshot.map(_.id).getOrElse(return None)
      (tdb, tname, stamp, t, head)
    }
    val moved = states.filter { case (_, _, stamp, _, head) => head != stamp }
    if (moved.isEmpty)
      return Some((0L, deps)) // nothing moved: refresh is a no-op
    // incremental maintenance is linear in ONE advanced input: exactly
    // one dependency moved (by appends only), the rest sit at their
    // stamps — the fact-table-advances / dimensions-static MV shape
    if (moved.size > 1) return None
    val (tdb, tname, stamp, t, head) = moved.head
    // append-only walk along the parent chain from head back to stamp
    val byId = t.meta.snapshots.map(x => x.id -> x).toMap
    var cur = head
    while (cur != stamp) {
      val sn = byId.getOrElse(cur, return None) // stamp expired / not ancestor
      if (sn.operation != "append") return None
      cur = sn.parentId
      if (cur < 0) return None
    }
    // Plan-shape gate over the ANALYZED definition. Leaves are unpinned
    // lake relations keyed by table name — a metadata table, a
    // time-travel read or any other relation fails the gate (full
    // recompute). Joins are linear in each input under bag semantics, so
    // (F ∪ ΔF) ⋈ D = (F ⋈ D) ∪ (ΔF ⋈ D) — the delta is the view text
    // over JUST the increment joined to the (unchanged) other inputs —
    // PROVIDED the advanced relation appears EXACTLY ONCE (a self-join
    // of the advanced table is quadratic: (F∪Δ)⋈(F∪Δ) ≠ F⋈F ∪ Δ⋈Δ)
    // and never on the null-EXTENDED side of an outer join (left outer
    // is per-left-row, so linear in its left input only).
    val full = query(vm.sql, p)
    val advanced = s"$tdb.$tname"
    val still = states.collect {
      case (d, n, _, _, _) if !(d == tdb && n == tname) => s"$d.$n"
    }.toSet
    def noSubquery(e: Expression) = e.find(_.isInstanceOf[SubqueryExpression]).isEmpty
    /** None = ineligible shape; Some(n) = n occurrences of the advanced
      * leaf in this subtree. */
    def walk(pl: LogicalPlan): Option[Int] = pl match {
      case r: DataSourceV2Relation => r.table match {
        case lt: LakeV2Table if lt.pinned.isEmpty && lt.lakeTable.name == advanced => Some(1)
        case lt: LakeV2Table if lt.pinned.isEmpty && still(lt.lakeTable.name) => Some(0)
        case _ => None
      }
      case sa: SubqueryAlias => walk(sa.child)
      case pr: Project
          if pr.projectList.forall(x => x.deterministic && noSubquery(x)) =>
        walk(pr.child)
      case f: Filter
          if f.condition.deterministic && noSubquery(f.condition) =>
        walk(f.child)
      case j: Join
          if j.condition.forall(c => c.deterministic && noSubquery(c)) =>
        (walk(j.left), walk(j.right)) match {
          case (Some(l), Some(r)) => j.joinType match {
            case Inner | Cross => Some(l + r)
            case LeftOuter if r == 0 => Some(l)
            case RightOuter if l == 0 => Some(r)
            case _ => None
          }
          case _ => None
        }
      case _ => None
    }
    def shapeOk(pl: LogicalPlan): Boolean = walk(pl).contains(1)
    val analyzed = full.queryExecution.analyzed
    val plain = shapeOk(analyzed)
    // aggregate shape: a single distributive GROUP BY over the same
    // SPJ tree merges PARTIAL STATES instead of recomputing — old ⊎
    // agg(increment-join) re-aggregated with each column's merge
    // function, O(|storage| + |increment|), never O(base table)
    val aggSpec = if (plain) None else aggMergeSpec(analyzed, shapeOk)
    if (!plain && aggSpec.isEmpty) return None
    // the view text with JUST the increment in place of the advanced
    // table (unchanged deps keep their names — their grants fire again)
    val inc = t.readIncremental(Some(stamp), head, skipNonAppends = false)
    val delta = query(vm.sql, p, swap = Map((tdb, tname) -> inc.queryExecution.analyzed))
    val (vdb, storage) = (splitName(vm.name)._1, vm.props("storage"))
    val added = delta.count()
    aggSpec match {
      case None =>
        if (added > 0) writeStorage(vdb, storage)(delta.writeTo(_).append())
      case Some((keys, aggs)) if added > 0 =>
        val st0 = load(vdb, storage)
        val union = st0.read().unionByName(delta)
        val merged =
          if (aggs.isEmpty) union.distinct() // SELECT DISTINCT shape
          else union.groupBy(keys.map(col): _*).agg(
            aggs.head match { case (n, f) => f(col(n)).as(n) },
            aggs.tail.map { case (n, f) => f(col(n)).as(n) }: _*)
        // merge widens some types (sum(decimal) gains 10 digits): align
        // back to the storage schema in its column order
        val aligned = merged.select(st0.schema.fields.toSeq.map(fd =>
          col(fd.name).cast(fd.dataType).as(fd.name)): _*)
        writeStorage(vdb, storage)(aligned.writeTo(_).overwrite(lit(true)))
      case _ => () // empty increment: merge is the identity
    }
    // advanced dep stamps at the head the increment ran to; unchanged
    // deps keep their stamps (order preserved)
    val newDeps = parsed.map { case (d, n, st) =>
      if (d == tdb && n == tname) s"$d.$n=$head" else s"$d.$n=$st"
    }.mkString(",")
    Some((added, newDeps))
  }

  /** Mergeable-aggregate gate for incremental MV refresh: the analyzed
    * definition must be exactly one Aggregate whose child passes the
    * plain Project/Filter gate, every output either a grouping-key
    * passthrough or a bare distributive aggregate (SUM/COUNT → merge by
    * SUM; MIN/MAX → themselves; no DISTINCT, no FILTER clause, no
    * expression AROUND the aggregate — `sum(x)+1` partials don't merge),
    * and every grouping expression visible in the output (hidden keys
    * would collapse distinct storage rows on merge). Output names must
    * be unique so the merge can address columns by name.
    *
    * Float caveat (standard IVM behavior): SUM over DOUBLE merges by
    * adding the increment's partial sum to the stored sum — a different
    * accumulation order than a full recompute, so results can drift by
    * float reassociation (ulps). Exact types (integer/decimal) merge
    * bit-exactly; pipelines needing exact doubles should define the MV
    * over a decimal cast, the same contract the oracle queries use.
    * @return (key column names, (agg column name, merge fn) pairs) */
  private def aggMergeSpec(analyzed: LogicalPlan, childOk: LogicalPlan => Boolean)
      : Option[(Seq[String], Seq[(String, Column => Column)])] = {
    // SELECT DISTINCT stays a Distinct node in the ANALYZED plan (the
    // Aggregate rewrite is an optimizer rule): it merges as an all-keys
    // aggregate — distinct(old ∪ distinct(increment)) = distinct(new)
    def findAgg(pl: LogicalPlan): Option[Either[Seq[String], Aggregate]] = pl match {
      case sa: SubqueryAlias => findAgg(sa.child)
      case d: Distinct if childOk(d.child) =>
        val names = d.output.map(_.name)
        if (names.distinct.size == names.size) Some(Left(names)) else None
      case a: Aggregate if childOk(a.child) => Some(Right(a))
      case _ => None
    }
    val a = findAgg(analyzed) match {
      case None => return None
      case Some(Left(keys)) => return Some((keys, Seq.empty))
      case Some(Right(agg)) => agg
    }
    if (!a.groupingExpressions.forall(_.deterministic)) return None
    def hasAgg(e: Expression) =
      e.find(_.isInstanceOf[AggregateExpression]).isDefined
    def isGroupKey(e: Expression) =
      a.groupingExpressions.exists(_.semanticEquals(e))
    val cols: Seq[(String, Option[Column => Column])] =
      a.aggregateExpressions.map {
        case al @ Alias(ae: AggregateExpression, _) =>
          if (ae.isDistinct || ae.filter.isDefined || !ae.deterministic)
            return None
          ae.aggregateFunction match {
            case _: Sum   => (al.name, Some((c: Column) => sum(c)))
            case _: Count => (al.name, Some((c: Column) => sum(c)))
            case _: Min   => (al.name, Some((c: Column) => min(c)))
            case _: Max   => (al.name, Some((c: Column) => max(c)))
            // COUNT DISTINCT's mergeable carrier (r13): an MV defined
            // over hll_sketch_agg stores the BINARY sketch column and
            // refreshes by register-union — union-of-sketches IS the
            // sketch-of-union (register max), so the incremental result
            // equals a full recompute exactly, unlike the float-sum
            // caveat below. Readers extract hll_sketch_estimate(col).
            case _: HllSketchAgg =>
              (al.name, Some((c: Column) => hll_union_agg(c)))
            // and an already-unioned sketch column re-unions
            case _: HllUnionAgg =>
              (al.name, Some((c: Column) => hll_union_agg(c)))
            case _        => return None
          }
        case at: Attribute if isGroupKey(at) => (at.name, None)
        case al: Alias
            if !hasAgg(al.child) && al.child.deterministic &&
              (isGroupKey(al.child) || al.child.foldable) =>
          (al.name, None)
        case _ => return None
      }
    // every grouping expression must surface as an output column
    val keyExprs = a.aggregateExpressions.collect {
      case at: Attribute => at: Expression
      case al: Alias => al.child
    }
    if (!a.groupingExpressions.forall(g => keyExprs.exists(_.semanticEquals(g))))
      return None
    val names = cols.map(_._1)
    if (names.distinct.size != names.size) return None
    Some((cols.collect { case (n, None) => n },
      cols.collect { case (n, Some(f)) => (n, f) }))
  }

  /** The PARSED relation references of a SQL definition — catalog-prefix
    * stripped, metadata tables mapped to their base table, CTE names
    * excluded — or None when the text doesn't parse.
    * Shared by dependency stamping and the view permission gate, so both
    * see the same reference set by construction. */
  private def relationRefs(sql: String): Option[Seq[Seq[String]]] = {
    val plan = try parse(sql) catch { case scala.util.control.NonFatal(_) => return None }
    val cteNames = plan.collectWithSubqueries { case w: UnresolvedWith =>
      w.cteRelations.map(_._1) }.flatten.toSet
    // CTE definitions are not children of their WITH node
    def refs(pl: LogicalPlan): Seq[Seq[String]] = pl.collectWithSubqueries {
      case r: UnresolvedRelation => Seq(r.multipartIdentifier)
      case w: UnresolvedWith => w.cteRelations.flatMap(c => refs(c._2))
    }.flatten
    Some(refs(plan)
      .map(parts => if (parts.length >= 3 && CatalogNames(parts.head)) parts.tail else parts)
      // a metadata table depends on its base table
      .map {
        case Seq(d, n, meta) if MetaTableSuffixes(meta) => Seq(d, n)
        case parts => parts
      }
      .distinct
      .filterNot(parts => parts.length == 1 && cteNames.contains(parts.head)))
  }

  /** Dependency stamp: `db.t=<snapshotId>` per referenced lake table
    * (compact prop encoding); a referenced VIEW pins as `db.v=VIEW` and
    * any OTHER relation (session-catalog table, temp view, bare name —
    * nothing this catalog can snapshot-pin) as `<name>=EXTERNAL`. Both
    * sentinels can never equal a snapshot id, so mvFresh falls back to
    * live expansion — the storage fast path is reserved for definitions
    * whose every input is pinnable. Relations come from the PARSER
    * ([[relationRefs]]), so a qualified column name can't fake a dep and
    * a bare relation name can't hide one. */
  private def mvDeps(sql: String): String =
    relationRefs(sql) match {
      case None => "?=EXTERNAL" // unparseable definition: never serve storage
      case Some(refs) => refs.flatMap { parts =>
        def lakeStamp(db: String, name: String) =
          s"$db.$name=" + catalog.loadTable(db, name)
            .flatMap(_.currentSnapshot.map(_.id)).getOrElse(-1L)
        parts match {
          case Seq(db, name)
              if catalog.tableInfo(db, name).exists(_.tableType == "LAKE") =>
            Some(lakeStamp(db, name))
          case Seq(db, name) if catalog.viewExists(db, name) =>
            Some(s"$db.$name=VIEW")
          case other => Some(other.mkString(".") + "=EXTERNAL")
        }
      }.distinct.mkString(",")
    }

  /** Invoker-rights gate for view METADATA (ADVICE r9 #4): a principal
    * may DESCRIBE or list a view only if it could READ it — SELECT (or
    * ALL) on every lake-table dependency, recursively through dependent
    * views. A view definition embeds table names and predicate literals,
    * so exposing its text to an ungranted principal leaks exactly what
    * the SELECT gate protects. Relations outside the grants model
    * (session tables, temp views) don't gate here — their own catalog
    * does; an unparseable definition denies (its text may still embed
    * secrets). Principal-less sessions stay administrative. */
  private def canReadView(db: String, name: String, p: Option[String],
      depth: Int = 0): Boolean =
    p.forall { pr =>
      if (depth > LakeSql.MaxViewDepth) false
      else catalog.viewInfo(db, name).forall { vm =>
        relationRefs(vm.sql) match {
          case None => false
          case Some(refs) => refs.forall {
            case Seq(d, n)
                if catalog.tableInfo(d, n).exists(_.tableType == "LAKE") =>
              holdsSelect(pr, d, n)
            case Seq(d, n) if catalog.viewExists(d, n) =>
              canReadView(d, n, p, depth + 1)
            // a dependency in a MANAGED namespace that resolves to neither
            // a table nor a view (a dropped table) DENIES: a missing grant
            // target must not widen access. Foreign tables pass (their
            // own catalog gates them).
            case Seq(d, n)
                if catalog.namespaceExists(d) &&
                  catalog.tableInfo(d, n).isEmpty => false
            case _ => true
          }
        }
      }
    }

  private def holdsSelect(pr: String, db: String, name: String): Boolean = {
    val held = catalog.grantsFor(db, name, pr)
    held.contains("ALL") || held.contains("SELECT")
  }

  /** Freshness: every recorded dependency still at its stamped snapshot.
    * The invoker's SELECT gate fires on each dependency EVEN on the
    * storage fast path — materialization must not widen access. */
  private def mvFresh(vm: ViewMetadata, p: Option[String]): Boolean = {
    val deps = vm.props.getOrElse("deps", "")
    if (deps.isEmpty) return true
    deps.split(",").forall { d =>
      val Array(ref, stamp) = d.split("=", 2)
      // EXTERNAL = a relation this catalog can't snapshot-pin (and whose
      // name may not even be db-qualified): never fresh, and the live
      // expansion path applies its own permission gates
      if (stamp == "EXTERNAL") false
      else {
        val (db, name) = splitName(ref)
        requirePerm(p, db, name, "SELECT")
        stamp != "VIEW" && catalog.loadTable(db, name)
          .flatMap(_.currentSnapshot.map(_.id)).getOrElse(-1L).toString == stamp
      }
    }
  }

  /** INSERT OVERWRITE under `partitionOverwriteMode=dynamic` (replace only
    * the partitions the source touches): Spark's V1 write bridge has no
    * dynamic-overwrite exec, so this spelling lands through
    * [[LakeTable.overwriteDynamic]]. The static spelling is Spark's. */
  private def insertOverwriteDynamic(s: String, p: Option[String]): DataFrame = {
    val m = """(?is)^INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.]+)\s+(VALUES\s+.*|SELECT\s+.*|WITH\s+.*)$""".r
      .findFirstMatchIn(s).getOrElse(fail("INSERT OVERWRITE … VALUES/SELECT", s))
    val (db, table) = splitName(m.group(1))
    // overwrite = replace everything: the UPDATE decomposition rule
    requirePerm(p, db, table, "DELETE")
    requirePerm(p, db, table, "INSERT")
    val t = load(db, table)
    val body = m.group(2)
    val raw = query(if (body.toUpperCase.startsWith("VALUES")) s"SELECT * FROM $body" else body, p)
    // zip would silently drop extra source columns or commit files
    // missing trailing schema columns — a malformed statement must fail
    if (raw.schema.size != t.schema.size)
      throw new SqlParseException(
        s"INSERT OVERWRITE arity ${raw.schema.size} != table arity ${t.schema.size}")
    val aligned = raw.select(raw.columns.zip(t.schema.fields).map {
      case (c, f) => col(c).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    val n = t.overwriteDynamic(aligned).currentSnapshot.flatMap(_.summary.get("added-records"))
    status(s"Overwrote $db.$table (${n.getOrElse("?")} row(s))")
  }

  /** The ALTER TABLE spellings the native catalog does not apply: Iceberg's
    * branch, tag, write-order and partition-field DDL (Spark's parser
    * rejects them), ALTER COLUMN … SET DEFAULT and ADD COLUMN(S). */
  private def alter(s: String, p: Option[String]): DataFrame = {
    val head = """(?is)^ALTER\s+TABLE\s+([\w.]+)\s+(.*)$""".r
      .findFirstMatchIn(s).getOrElse(fail("ALTER TABLE …", s))
    val (db, table) = splitName(head.group(1))
    requirePerm(p, db, table, "ALTER")
    val t = load(db, table)
    val rest = head.group(2).trim
    // Iceberg branch DDL: CREATE/DROP BRANCH (optionally AS OF VERSION n)
    """(?is)^CREATE\s+BRANCH\s+(\w+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*$""".r
      .findFirstMatchIn(rest).foreach { bm =>
        t.createBranch(bm.group(1), Option(bm.group(2)).map(_.toLong))
        return status(s"Created branch ${bm.group(1)} on $db.$table")
      }
    """(?is)^DROP\s+BRANCH\s+(\w+)\s*$""".r.findFirstMatchIn(rest).foreach { bm =>
      t.dropBranch(bm.group(1))
      return status(s"Dropped branch ${bm.group(1)} from $db.$table")
    }
    // Iceberg tag DDL (r10): CREATE/DROP TAG — an immutable named ref,
    // expiry-protected; AS OF VERSION defaults to the current snapshot
    """(?is)^CREATE\s+TAG\s+(\w+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*$""".r
      .findFirstMatchIn(rest).foreach { tm =>
        val snap = Option(tm.group(2)).map(_.toLong)
          .orElse(t.currentSnapshot.map(_.id))
          .getOrElse(throw new SqlParseException(
            s"CREATE TAG on $db.$table: table has no snapshots"))
        t.tagSnapshot(tm.group(1), snap)
        return status(s"Created tag ${tm.group(1)} at snapshot $snap " +
          s"on $db.$table")
      }
    """(?is)^DROP\s+TAG\s+(\w+)\s*$""".r.findFirstMatchIn(rest).foreach { tm =>
      t.dropTag(tm.group(1))
      return status(s"Dropped tag ${tm.group(1)} from $db.$table")
    }
    // v3 column defaults (M46): SET DEFAULT changes the WRITE default
    // only — initial-defaults are immutable once set (already-written
    // rows keep reading back the same values)
    """(?is)^ALTER\s+COLUMN\s+(\w+)\s+SET\s+DEFAULT\s+(.+?)\s*$""".r
      .findFirstMatchIn(rest).foreach { m =>
        t.setWriteDefault(m.group(1), unquote(m.group(2)))
        return status(s"Set write default for ${m.group(1)} on $db.$table")
      }
    // Iceberg's write-order DDL: sugar over the write.sort-order
    // property the append path already honors (task-local sort → tight
    // footer bounds from day one). Names are validated HERE — the write
    // path ignores unknown names rather than failing appends, so the
    // DDL is where a typo must surface.
    """(?is)^WRITE\s+ORDERED\s+BY\s+(.+?)\s*$""".r
      .findFirstMatchIn(rest).foreach { om =>
        // Iceberg's sort-item grammar: column [ASC|DESC] [NULLS
        // FIRST|LAST], canonicalized (lowercased) into the property
        val items = om.group(1).split(",").map(_.trim.stripPrefix("(")
          .stripSuffix(")").trim).filter(_.nonEmpty)
        if (items.isEmpty) throw new SqlParseException(
          s"WRITE ORDERED BY needs at least one column on $db.$table " +
            s"(schema: ${t.schema.fieldNames.mkString(", ")})")
        val sortItem =
          """(?i)^(\w+)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?$""".r
        val parsed = items.map {
          case sortItem(name, dir, nulls) =>
            (name, Option(dir).map(_.toLowerCase),
              Option(nulls).map(_.toLowerCase))
          case other => throw new SqlParseException(
            s"WRITE ORDERED BY: cannot parse sort item '$other' " +
              "(expected: column [ASC|DESC] [NULLS FIRST|LAST])")
        }
        val unknown = parsed.map(_._1).filterNot(c =>
          t.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        if (unknown.nonEmpty) throw new SqlParseException(
          s"WRITE ORDERED BY: unknown column(s) ${unknown.mkString(", ")} " +
            s"on $db.$table (schema: ${t.schema.fieldNames.mkString(", ")})")
        val canon = parsed.map { case (n, d, nu) =>
          (Seq(n) ++ d ++ nu.map("nulls " + _)).mkString(" ")
        }
        t.setProperties(Map("write.sort-order" -> canon.mkString(",")))
        return status(
          s"Set write order ${canon.mkString(", ")} on $db.$table")
      }
    """(?is)^WRITE\s+UNORDERED\s*$""".r.findFirstMatchIn(rest).foreach { _ =>
      t.setProperties(Map("write.sort-order" -> ""))
      return status(s"Cleared write order on $db.$table")
    }
    // Iceberg partition-spec evolution DDL (M36): future writes use the
    // amended spec; existing files keep their recorded values and prune
    // conservatively (transform parameters are part of the field key)
    """(?is)^ADD\s+PARTITION\s+FIELD\s+(.+?)\s*$""".r
      .findFirstMatchIn(rest).foreach { pm =>
        val spec = pm.group(1).trim
        t.setPartitionSpec(t.meta.partitionCols :+ spec)
        return status(s"Added partition field $spec to $db.$table")
      }
    """(?is)^DROP\s+PARTITION\s+FIELD\s+(.+?)\s*$""".r
      .findFirstMatchIn(rest).foreach { pm =>
        val spec = pm.group(1).trim.replaceAll("\\s+", "")
        // match canonical spellings so `bucket(4, id)` drops `bucket(4,id)`
        val remaining = t.transforms.zip(t.meta.partitionCols)
          .filterNot { case (tr, raw) =>
            tr.spec == spec || raw.replaceAll("\\s+", "") == spec }
        if (remaining.size == t.meta.partitionCols.size)
          throw new SqlParseException(
            s"no partition field $spec on $db.$table " +
              s"(spec: ${t.transforms.map(_.spec).mkString(", ")})")
        t.setPartitionSpec(remaining.map(_._2))
        return status(s"Dropped partition field $spec from $db.$table")
      }
    // ADD COLUMN(S): each spec is `name TYPE [DEFAULT <literal>]` (M46)
    val am = """(?is)^ADD\s+COLUMNS?\s+\(?(.*?)\)?\s*$""".r.findFirstMatchIn(rest)
      .getOrElse(fail("ALTER TABLE …", s))
    val specs = topLevelSplit(am.group(1), ',').map(_.trim).filter(_.nonEmpty)
    specs.foldLeft(t) { (acc, spec) =>
      val (ddlPart, default) =
        """(?is)^(.*?)\s+DEFAULT\s+(.+)$""".r.findFirstMatchIn(spec) match {
          case Some(m2) => (m2.group(1), Some(unquote(m2.group(2).trim)))
          case None => (spec, None)
        }
      val f = StructType.fromDDL(ddlPart).fields.head
      acc.addColumn(f.name, f.dataType, default)
    }
    status(s"Added ${specs.size} column(s) to $db.$table")
  }

  /** SHOW TABLES [IN db] / SHOW PARTITIONS db.t / SHOW CREATE TABLE
    * db.t — the DDL-introspection trio every SQL surface is expected to
    * answer. SHOW TABLES lists through the catalog's headers-only path
    * (no manifest reads); SHOW PARTITIONS is the `.partitions` metadata
    * rollup; SHOW CREATE TABLE renders a statement `run` accepts
    * (transform specs included). */
  private def show(s: String, up: String, p: Option[String]): DataFrame = {
    import catalog.spark.implicits._
    if (up.startsWith("SHOW TABLES")) {
      val m = """(?is)^SHOW\s+TABLES(?:\s+IN\s+([\w]+))?$""".r
        .findFirstMatchIn(s).getOrElse(fail("SHOW TABLES", s))
      val dbs = Option(m.group(1)).map(Seq(_)).getOrElse(catalog.listNamespaces())
      // a session principal sees only tables it holds ANY grant on —
      // an ungranted principal must not enumerate the warehouse (M10;
      // the sibling SHOW statements gate per-table the same way)
      dbs.flatMap(db => catalog.listTables(db).map(ti => (db, ti.name)))
        .filter { case (db, name) =>
          p.forall(pr => catalog.grantsFor(db, name, pr).nonEmpty) }
        .sorted.toDF("namespace", "table_name")
    } else if (up.startsWith("SHOW VIEWS")) {
      val m = """(?is)^SHOW\s+VIEWS(?:\s+IN\s+([\w]+))?$""".r
        .findFirstMatchIn(s).getOrElse(fail("SHOW VIEWS [IN db]", s))
      val dbs = Option(m.group(1)).map(Seq(_)).getOrElse(catalog.listNamespaces())
      // filtered like SHOW TABLES (ADVICE r9 #4): a principal lists only
      // views it could read — the name alone can leak schema design
      dbs.flatMap(db => catalog.listViews(db)
        .filter(v => canReadView(db, v, p))
        .map { v =>
          val mat = catalog.viewInfo(db, v)
            .exists(_.props.get("materialized").contains("true"))
          (db, v, mat)
        }).sorted.toDF("namespace", "view_name", "materialized")
    } else if (up.startsWith("SHOW TBLPROPERTIES")) {
      val m = """(?is)^SHOW\s+TBLPROPERTIES\s+([\w.]+)$""".r
        .findFirstMatchIn(s).getOrElse(fail("SHOW TBLPROPERTIES db.t", s))
      val (db, table) = splitName(m.group(1))
      requirePerm(p, db, table, "DESCRIBE")
      val t = load(db, table)
      (t.meta.props.toSeq.sorted :+
        ("format-version" -> t.meta.formatVersion.toString))
        .toDF("key", "value")
    } else if (up.startsWith("SHOW STATS")) {
      // Trino's SHOW STATS FOR shape: one row per analyzed column plus a
      // (table) summary row carrying the analyzed row count and snapshot
      val m = """(?is)^SHOW\s+STATS\s+FOR\s+([\w.]+)$""".r
        .findFirstMatchIn(s).getOrElse(fail("SHOW STATS FOR db.t", s))
      val (db, table) = splitName(m.group(1))
      requirePerm(p, db, table, "SELECT")
      val t = load(db, table)
      val ts = t.meta.tableStats.getOrElse(throw new SqlParseException(
        s"no statistics on $db.$table — run CALL analyze_table(table => " +
          s"'$db.$table') first"))
      (ts.columns.map(c =>
        (c.col, c.ndv, c.nulls, c.avgLen, c.maxLen, ts.rowCount, ts.snapshotId)) :+
        (("(table)", 0L, 0L, 0L, 0L, ts.rowCount, ts.snapshotId)))
        .toDF("column_name", "distinct_count", "null_count", "avg_len",
          "max_len", "row_count", "analyzed_snapshot_id")
    } else if (up.startsWith("SHOW PARTITIONS")) {
      val m = """(?is)^SHOW\s+PARTITIONS\s+([\w.]+)$""".r
        .findFirstMatchIn(s).getOrElse(fail("SHOW PARTITIONS", s))
      val (db, table) = splitName(m.group(1))
      requirePerm(p, db, table, "SELECT")
      load(db, table).partitionsMetadata()
    } else if (up.startsWith("SHOW CREATE TABLE")) {
      val m = """(?is)^SHOW\s+CREATE\s+TABLE\s+([\w.]+)$""".r
        .findFirstMatchIn(s).getOrElse(fail("SHOW CREATE TABLE", s))
      val (db, table) = splitName(m.group(1))
      requirePerm(p, db, table, "DESCRIBE")
      Seq(load(db, table).showCreate()).toDF("createtab_stmt")
    } else throw new SqlParseException(s"unsupported statement: ${s.take(60)}")
  }

  private def describe(s: String, p: Option[String]): DataFrame = {
    import catalog.spark.implicits._
    val m = """(?is)^DESCRIBE\s+(EXTENDED\s+)?(?:TABLE\s+)?([\w.]+)$""".r
      .findFirstMatchIn(s).getOrElse(fail("DESCRIBE [EXTENDED]", s))
    val (db, table) = splitName(m.group(2))
    // DESCRIBE EXTENDED: the schema plus the operational detail block
    // (format version, location, snapshot/file/byte footprint,
    // partitioning, properties) from the manifest — no data I/O
    if (m.group(1) != null && catalog.viewInfo(db, table).isEmpty) {
      requirePerm(p, db, table, "DESCRIBE")
      val t = load(db, table)
      val cols = t.schema.fields.toSeq
        .map(f => (f.name, f.dataType.sql.toLowerCase))
      val files = t.dataFiles
      val detail = Seq(
        ("# format_version", t.meta.formatVersion.toString),
        ("# location", t.location.toString),
        ("# current_snapshot_id", t.currentSnapshot.map(_.id.toString).getOrElse("-")),
        ("# snapshot_count", t.meta.snapshots.size.toString),
        ("# data_file_count", files.size.toString),
        ("# delete_file_count", t.deleteFiles.size.toString),
        ("# total_data_bytes", files.map(_.sizeBytes).sum.toString),
        ("# row_count_upper_bound", files.map(_.rowCount).sum.toString),
        ("# partitioning",
          if (t.meta.partitionCols.isEmpty) "-"
          else t.meta.partitionCols.mkString(", ")),
        ("# properties",
          if (t.meta.props.isEmpty) "-"
          else t.meta.props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
            .mkString("; ")))
      return (cols ++ detail).toDF("col_name", "data_type")
    }
    // views DESCRIBE too (M49): the definition-time schema, plus the
    // stored text and materialization flag as pseudo-columns — behind
    // the same could-read gate as SHOW VIEWS (the stored text embeds
    // dependency table names and predicate literals)
    catalog.viewInfo(db, table).foreach { vm =>
      if (!canReadView(db, table, p))
        throw new AccessDeniedException(
          s"principal ${p.get} lacks SELECT on the dependencies of view " +
            s"$db.$table")
      val cols = StructType.fromDDL(vm.schemaDdl).fields.toSeq
        .map(f => (f.name, f.dataType.sql.toLowerCase))
      val extras = Seq(
        ("# view_text", vm.sql),
        ("# materialized", vm.props.getOrElse("materialized", "false")))
      return (cols ++ extras).toDF("col_name", "data_type")
    }
    requirePerm(p, db, table, "DESCRIBE")
    load(db, table).describe()
  }

  // --------------------------------------------------------------- helpers

  private def load(db: String, table: String): LakeTable =
    catalog.loadTable(db, table).getOrElse(
      throw new IllegalArgumentException(
        if (catalog.viewExists(db, table))
          s"$db.$table is a view — DML and maintenance target tables " +
            "(query it with SELECT, or redefine it with CREATE OR REPLACE VIEW)"
        else s"table $db.$table does not exist"))

  private def status(msg: String): DataFrame = {
    import catalog.spark.implicits._
    Seq(msg).toDF("status")
  }

  /** M10 enforcement: a principal needs the permission (or ALL) on the
    * table; unset principal = administrative caller, unrestricted. A
    * missing table skips the check — the statement then fails with its
    * own does-not-exist error. */
  private def requirePerm(
      p: Option[String], db: String, table: String, perm: String): Unit =
    p.foreach { principal =>
      if (catalog.tableExists(db, table)) {
        val held = catalog.grantsFor(db, table, principal)
        if (!held.contains("ALL") && !held.contains(perm))
          throw new AccessDeniedException(
            s"principal $principal lacks $perm on $db.$table")
      }
    }

  private def fail(what: String, s: String): Nothing =
    throw new SqlParseException(s"cannot parse $what: ${s.take(80)}")
}

object LakeSql {
  /** The catalog and principal of the statement `run` is executing on
    * this thread. [[LakeSparkCatalog]] resolves tables through the pinned
    * catalog (its clock and warehouse), and [[Grants]] checks the pinned
    * principal before `spark.graft.principal`. */
  private[lake] final case class Pin(catalog: LakeCatalog, principal: Option[String])

  private val current = new ThreadLocal[Pin]

  private[lake] def pinned: Option[Pin] = Option(current.get)

  private[lake] def withPin[T](pin: Pin)(body: => T): T = {
    val outer = current.get
    current.set(pin)
    try body finally current.set(outer)
  }

  /** The catalog names `run` leaves as spelled and registers as
    * [[LakeSparkCatalog]] when the session has not set them. */
  private val CatalogNames = Set("lake", "glue_catalog")

  /** Metadata-table suffixes (`db.t.files` …); a dep spelled through one
    * of these pins to the BASE table's snapshot. */
  private val MetaTableSuffixes =
    Set("history", "snapshots", "all_files", "files", "manifests",
      "partitions", "metadata_log", "refs")

  /** `db.t` and `db.t.<metadata table>` → `lake.…`; other names as spelled. */
  private def lakeName(parts: Seq[String]): Seq[String] = parts match {
    case Seq(_, _) => "lake" +: parts
    case Seq(c, _, meta)
        if !CatalogNames.contains(c) && MetaTableSuffixes.contains(meta.toLowerCase) =>
      "lake" +: parts
    case _ => parts
  }

  /** Expansion bound for stacked views (M49) — generous for real
    * layering, small enough that a definition cycle errors fast. */
  private[lake] val MaxViewDepth = 16

  private[lake] def splitName(name: String): (String, String) = {
    // accept glue_catalog.db.t, db.t, or bare t (default namespace)
    val parts = name.split('.')
    parts.length match {
      case 1 => ("default", parts(0))
      case 2 => (parts(0), parts(1))
      case _ => (parts(parts.length - 2), parts.last)
    }
  }

  /** Split on `sep` at paren depth 0, outside quotes. */
  private[lake] def topLevelSplit(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inQuote = false; var start = 0
    for (i <- 0 until s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case `sep` if depth == 0 =>
          out += s.substring(start, i).trim; start = i + 1
        case _ =>
      }
    }
    out += s.substring(start).trim
    out.result().filter(_.nonEmpty)
  }

  private[lake] def unquote(s: String): String = {
    val t = s.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1)
    else t
  }
}
