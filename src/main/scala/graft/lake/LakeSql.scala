package graft.lake

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Denied by the grants model (M10) — the Lake-Formation-style permission
  * check the reference provisions (lake_formation_setup.py:93-171),
  * enforced here at the dispatch boundary. */
class AccessDeniedException(msg: String) extends RuntimeException(msg)

class SqlParseException(msg: String) extends RuntimeException(msg)

/** S8: the in-process SQL dispatcher replacing the reference's
  * ssh→spark-sql channel (upgrade_table.py:59-97). The reference is 100%
  * SQL-string driven — every capability it ships is a generated statement
  * — so this is the compatibility surface that lets its statement
  * sequences replay against the engine:
  *
  *   CREATE/DROP TABLE, INSERT VALUES, DELETE, UPDATE,
  *   ALTER … SET TBLPROPERTIES, CALL rewrite_data_files/expire_snapshots,
  *   DESCRIBE → engine API;   SELECT → temp views + spark.sql (Catalyst).
  *
  * Statement shapes match what the reference emits
  * (create_demo_table.py:97-137, upgrade_table.py:121-131, README.md:36).
  * Expressions inside DML (predicates, assignments, VALUES rows) are
  * parsed by Catalyst via `expr`/`VALUES`, not re-implemented.
  *
  * When `principal` is given, table grants gate each statement (ALL
  * implies everything; UPDATE needs DELETE+INSERT, its MoR decomposition).
  */
class LakeSql(val catalog: LakeCatalog) {

  import LakeSql._

  private def spark = catalog.spark

  // point the DSv2 catalog (LakeSparkCatalog, when the session registers
  // it as `lake` / `glue_catalog`) at this warehouse, so lake.db.t /
  // glue_catalog.db.t references in SELECTs resolve to the same tables
  spark.conf.set(LakeExtensions.WarehouseConf, catalog.warehouse.toString)
  V1StatsRule.install(spark) // bridged-scan stats for the planner (M50)

  /** Temp views the lake-ref rewriter registered during the CURRENT
    * statement. Dropped when run() returns: spark.sql analyzes eagerly,
    * so the statement's own plan stays resolved — but a LEFTOVER view
    * would let a later caller name it directly, bypassing the SELECT
    * grants check and reading the stale snapshot it was built from.
    * Thread-local list + per-statement-unique view NAMES (`…_sN` via
    * [[LakeSql.viewEpoch]]): names are session-global, so with
    * deterministic names one statement's cleanup could drop a view a
    * concurrent statement had registered but not yet analyzed — with
    * unique names, cleanup provably touches only its own views and
    * concurrent run() calls are safe. */
  private val createdViews: ThreadLocal[scala.collection.mutable.ListBuffer[String]] =
    ThreadLocal.withInitial(() => scala.collection.mutable.ListBuffer.empty[String])

  def run(sql: String, principal: Option[String] = None): DataFrame = {
    val s = sql.trim.stripSuffix(";").trim
    val up = s.toUpperCase
    try dispatch(s, up, principal)
    finally {
      createdViews.get().foreach(v => catalog.spark.catalog.dropTempView(v))
      createdViews.get().clear()
    }
  }

  private def dispatch(s: String, up: String, principal: Option[String]): DataFrame = {
    if (up.startsWith("CREATE TABLE")) create(s, principal)
    else if (up.startsWith("CREATE MATERIALIZED VIEW") ||
      up.startsWith("CREATE OR REPLACE MATERIALIZED VIEW"))
      createMaterializedViewStmt(s, principal)
    else if (up.startsWith("REFRESH MATERIALIZED VIEW"))
      refreshMaterializedViewStmt(s, principal)
    else if (up.startsWith("CREATE VIEW") ||
      up.startsWith("CREATE OR REPLACE VIEW")) createViewStmt(s, principal)
    else if (up.startsWith("DROP VIEW")) dropViewStmt(s, principal)
    else if (up.startsWith("DROP TABLE")) drop(s, principal)
    else if (up.startsWith("INSERT INTO")) insert(s, principal)
    else if (up.startsWith("INSERT OVERWRITE")) insertOverwrite(s, principal)
    else if (up.startsWith("TRUNCATE TABLE")) truncateStmt(s, principal)
    else if (up.startsWith("DELETE FROM")) delete(s, principal)
    else if (up.startsWith("UPDATE")) update(s, principal)
    else if (up.startsWith("MERGE INTO")) mergeStmt(s, principal)
    else if (up.startsWith("ALTER TABLE")) alter(s, principal)
    else if (up.startsWith("CALL")) call(s, principal)
    else if (up.startsWith("DESCRIBE")) describe(s, principal)
    else if (up.startsWith("SHOW")) show(s, up, principal)
    else if (up.startsWith("SELECT") || up.startsWith("WITH")) select(s, principal)
    else throw new SqlParseException(s"unsupported statement: ${s.take(60)}")
  }

  // ------------------------------------------------------------ statements

  private def create(s: String, p: Option[String]): DataFrame = {
    // CTAS: schema comes from the SELECT, data lands as the first append
    val ctas =
      """(?is)^CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+((?:SELECT|WITH)\s+.*)$""".r
    ctas.findFirstMatchIn(s).foreach { cm =>
      val (db, table) = splitName(cm.group(2))
      if (cm.group(1) != null && catalog.tableExists(db, table))
        return status(s"Table $db.$table already exists")
      val src = select(cm.group(3), p)
      catalog.createNamespace(db)
      val t = catalog.createTable(db, table, src.schema)
      t.append(src)
      return status(s"Created table $db.$table as select")
    }
    val head = """(?is)^CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\(""".r
    val m = head.findFirstMatchIn(s).getOrElse(fail("CREATE TABLE", s))
    val ifNotExists = m.group(1) != null
    val (db, table) = splitName(m.group(2))
    if (ifNotExists && catalog.tableExists(db, table))
      return status(s"Table $db.$table already exists")
    val (colsDdl, rest) = balancedParen(s, m.end - 1)
    val schema = StructType.fromDDL(colsDdl)
    // paren-balanced + top-level split: transform specs like
    // bucket(16, id) carry nested parens and commas (M36)
    val partitionBy = """(?is)PARTITIONED\s+BY\s*\(""".r
      .findFirstMatchIn(rest).map { pm =>
        topLevelSplit(balancedParen(rest, pm.end - 1)._1, ',')
          .map(_.trim).filter(_.nonEmpty)
      }.getOrElse(Nil)
    val props = """(?is)TBLPROPERTIES\s*\(""".r.findFirstMatchIn(rest).map { pm =>
      parseProps(balancedParen(rest, pm.end - 1)._1)
    }.getOrElse(Map.empty)
    catalog.createNamespace(db)
    catalog.createTable(db, table, schema, partitionBy, props)
    status(s"Created table $db.$table")
  }

  private def drop(s: String, p: Option[String]): DataFrame = {
    val m = """(?is)^DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)$""".r
      .findFirstMatchIn(s).getOrElse(fail("DROP TABLE", s))
    val ifExists = m.group(1) != null
    val (db, table) = splitName(m.group(2))
    requirePerm(p, db, table, "DROP", missingOk = ifExists)
    val dropped = catalog.dropTable(db, table, ifExists)
    status(if (dropped) s"Dropped table $db.$table" else s"Table $db.$table did not exist")
  }

  /** CREATE [OR REPLACE] VIEW db.v AS SELECT … (M49): one metadata
    * document, no data written. The definition is validated NOW (it must
    * parse and resolve, and the definer's SELECT grants fire on every
    * referenced table), but resolution stays LATE-BINDING — each read
    * re-runs the stored text with the READER's principal (invoker
    * rights, the Trino/Hive default), so views track underlying DML and
    * schema evolution and never widen anyone's access. */
  private def createViewStmt(s: String, p: Option[String]): DataFrame = {
    val m = ("""(?is)^CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+""" +
      """((?:SELECT|WITH)\s+.*)$""").r
      .findFirstMatchIn(s).getOrElse(
        fail("CREATE [OR REPLACE] VIEW db.v AS SELECT …", s))
    val (db, name) = splitName(m.group(2))
    val body = m.group(3).trim
    val probe = select(body, p)
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
    val df = select(body, p) // definer's SELECT grants fire here
    val st = catalog.createTable(db, storage, df.schema)
    st.append(df)
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
        load(db, vm.props("storage")).overwrite(select(vm.sql, p))
        ("(full recompute)", pre)
    }
    catalog.createView(db, name,
      vm.copy(props = vm.props + ("deps" -> stamp)),
      orReplace = true)
    status(s"Refreshed materialized view $db.$name $how")
  }

  /** Incremental MV maintenance (M51): when the definition is a pure
    * single-table SELECTION/PROJECTION — analyzed plan is only
    * deterministic Project/Filter nodes (no aggregate, join, distinct,
    * window, limit, or predicate subquery) over the one dependency —
    * and that dependency advanced by APPEND commits alone since the
    * stamped snapshot, the new state is exactly old ⊎ σπ(increment):
    * refresh applies the view text to `readIncremental(stamp, head]`
    * and APPENDS the result to storage — O(increment), never O(table).
    * Anything else returns None → full recompute. The eligibility test
    * is the PLAN, not a SQL regex, so expression spellings can't fool
    * it. */
  /** @return (rows appended, the exact dep stamp APPLIED — `db.t=head`
    *         for the head the increment ran to, so a commit landing
    *         after the walk can only make the stamp look stale). */
  private def incrementalRefresh(
      vm: ViewMetadata, p: Option[String]): Option[(Long, String)] = {
    import org.apache.spark.sql.catalyst.plans.logical._
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
    // Plan-shape gate over the ANALYZED definition. Leaf checks are
    // anchored to the EXACT plain-ref temp-view pattern `{db}__{t}_s<N>`
    // (ADVICE r9 #2: a prefix test also accepted metadata-table
    // (`db__t__files_s7`) and time-travel (`db__t__v5_s7`) aliases, and
    // the textual rewrite below then produced `tmp.files` / `tmp VERSION
    // AS OF …` — an analysis error instead of a full-recompute fallback).
    // The tree may contain Project/Filter AND JOINS (r10): a join is
    // linear in each input under bag semantics, so
    // (F ∪ ΔF) ⋈ D = (F ⋈ D) ∪ (ΔF ⋈ D) — the delta is the view text
    // over JUST the increment joined to the (unchanged) other inputs —
    // PROVIDED the advanced relation appears EXACTLY ONCE (a self-join
    // of the advanced table is quadratic: (F∪Δ)⋈(F∪Δ) ≠ F⋈F ∪ Δ⋈Δ)
    // and never on the null-EXTENDED side of an outer join (left outer
    // is per-left-row, so linear in its left input only).
    val full = select(vm.sql, p)
    def leafReOf(db: String, name: String) =
      ("^" + java.util.regex.Pattern.quote(s"${db}__$name") + "_s\\d+$").r
    val advRe = leafReOf(tdb, tname)
    val stillRes = states.collect {
      case (d, n, _, _, _) if !(d == tdb && n == tname) => leafReOf(d, n)
    }
    def noSubquery(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.find {
        case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => true
        case _ => false
      }.isEmpty
    /** None = ineligible shape; Some(n) = n occurrences of the advanced
      * leaf in this subtree. */
    def walk(pl: LogicalPlan): Option[Int] = pl match {
      case sa: SubqueryAlias if advRe.matches(sa.alias) => Some(1)
      case sa: SubqueryAlias if stillRes.exists(_.matches(sa.alias)) => Some(0)
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
            case org.apache.spark.sql.catalyst.plans.Inner => Some(l + r)
            case org.apache.spark.sql.catalyst.plans.Cross => Some(l + r)
            case org.apache.spark.sql.catalyst.plans.LeftOuter if r == 0 =>
              Some(l)
            case org.apache.spark.sql.catalyst.plans.RightOuter if l == 0 =>
              Some(r)
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
    // the view text applied to JUST the increment (unchanged deps keep
    // their names — select() re-resolves them and fires their grants)
    val inc = t.readIncremental(Some(stamp), head, skipNonAppends = false)
    val tmp = s"__mv_inc_${LakeSql.viewEpoch.incrementAndGet()}"
    inc.createOrReplaceTempView(tmp)
    createdViews.get() += tmp
    val re = ("(?<![\\w.])(?:(?:glue_catalog|lake)\\.)?" +
      java.util.regex.Pattern.quote(s"$tdb.$tname") + "(?!\\w)").r
    val rewritten = mapOutsideQuotes(vm.sql, seg => re.replaceAllIn(seg, tmp))
    val delta = select(rewritten, p)
    val st0 = load(splitName(vm.name)._1, vm.props("storage"))
    val added = delta.count()
    aggSpec match {
      case None =>
        if (added > 0) st0.append(delta)
      case Some((keys, aggs)) if added > 0 =>
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
        st0.overwrite(aligned)
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
  private def aggMergeSpec(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      childOk: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => Boolean)
      : Option[(Seq[String], Seq[(String, Column => Column)])] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, SubqueryAlias}
    // SELECT DISTINCT stays a Distinct node in the ANALYZED plan (the
    // Aggregate rewrite is an optimizer rule): it merges as an all-keys
    // aggregate — distinct(old ∪ distinct(increment)) = distinct(new)
    def findAgg(pl: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Option[Either[Seq[String], Aggregate]] = pl match {
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

  /** Metadata-table suffixes the ref rewriter resolves (`db.t.files` …);
    * a dep spelled through one of these pins to the BASE table's
    * snapshot. */
  private val MetaTableSuffixes =
    Set("history", "snapshots", "all_files", "files", "manifests",
      "partitions", "metadata_log", "refs")

  /** Dependency stamp: `db.t=<snapshotId>` per referenced lake table
    * (compact prop encoding); a referenced VIEW pins as `db.v=VIEW` and
    * any OTHER relation (session-catalog table, temp view, bare name —
    * nothing this catalog can snapshot-pin) as `<name>=EXTERNAL`. Both
    * sentinels can never equal a snapshot id, so mvFresh falls back to
    * live expansion — the storage fast path is reserved for definitions
    * whose every input is pinnable (ADVICE r9 #1: the old regex-candidate
    * extraction silently DROPPED un-pinnable deps, leaving the MV
    * permanently FRESH over a moving source). Relations come from the
    * PARSER (`UnresolvedRelation` leaves incl. subqueries, minus CTE
    * names), not the dotted-identifier regex, so a qualified column name
    * can't fake a dep and a bare relation name can't hide one. */
  /** The PARSED relation references of a SQL definition — catalog-prefix
    * stripped, CTE names excluded — or None when the text doesn't parse.
    * Shared by dependency stamping and the view permission gate, so both
    * see the same reference set by construction. */
  private def relationRefs(sql: String): Option[Seq[Seq[String]]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
    val plan =
      try catalog.spark.sessionState.sqlParser.parsePlan(sql)
      catch { case scala.util.control.NonFatal(_) => return None }
    val cteNames = plan.collectWithSubqueries { case w: UnresolvedWith =>
      w.cteRelations.map(_._1) }.flatten.toSet
    Some(plan.collectWithSubqueries { case r: UnresolvedRelation =>
        r.multipartIdentifier }
      .map { parts0 =>
        if (parts0.length >= 3 &&
          (parts0.head == "glue_catalog" || parts0.head == "lake"))
          parts0.tail
        else parts0
      }
      .distinct
      .filterNot(parts => parts.length == 1 && cteNames.contains(parts.head)))
  }

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
          case Seq(db, name, meta)
              if MetaTableSuffixes.contains(meta) &&
                catalog.tableInfo(db, name).exists(_.tableType == "LAKE") =>
            Some(lakeStamp(db, name))
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
            case Seq(d, n, meta)
                if MetaTableSuffixes.contains(meta) &&
                  catalog.tableInfo(d, n).exists(_.tableType == "LAKE") =>
              holdsSelect(pr, d, n)
            // a dependency in a MANAGED namespace that resolves to neither
            // a table nor a view (e.g. the lake table was dropped) DENIES
            // (ADVICE r10): the stored definition text still embeds the
            // names and predicate literals the SELECT gate protects, and
            // "the grant target no longer exists" must not widen access —
            // same conservative posture as the unparseable branch above.
            // Foreign tables keep passing (their own catalog gates them).
            case Seq(d, n)
                if catalog.namespaceExists(d) &&
                  catalog.tableInfo(d, n).isEmpty => false
            case Seq(d, n, meta)
                if MetaTableSuffixes.contains(meta) &&
                  catalog.namespaceExists(d) &&
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

  /** INSERT INTO t [(col, …)] VALUES …|SELECT … — a column list (r10)
    * binds the source positionally to the NAMED columns; unlisted
    * columns land their v3 write-default (M46) when declared, else NULL
    * — standard SQL column-list insert semantics. Without the list the
    * source must match the full table arity, as before. */
  private def insert(s: String, p: Option[String]): DataFrame = {
    val m = ("""(?is)^INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\)\s*)?""" +
      """(VALUES\s+.*|SELECT\s+.*|WITH\s+.*)$""").r
      .findFirstMatchIn(s).getOrElse(fail("INSERT INTO … VALUES/SELECT", s))
    val (db, table) = splitName(m.group(1))
    requirePerm(p, db, table, "INSERT")
    val t = load(db, table)
    val body = m.group(3)
    // Catalyst parses the literal rows (timestamps, decimals, …); an
    // INSERT … SELECT source runs through the SELECT dispatcher so it may
    // read other lake tables
    val raw =
      if (body.toUpperCase.startsWith("VALUES"))
        spark.sql(s"SELECT * FROM $body")
      else select(body, p)
    val listed = Option(m.group(2)).map(
      topLevelSplit(_, ',').map(_.trim).filter(_.nonEmpty))
    val aligned = listed match {
      case None =>
        if (raw.schema.size != t.schema.size)
          throw new SqlParseException(
            s"INSERT arity ${raw.schema.size} != table arity ${t.schema.size}")
        raw.select(raw.columns.zip(t.schema.fields).map {
          case (c, f) => col(c).cast(f.dataType).as(f.name)
        }.toSeq: _*)
      case Some(cols) =>
        val byLower = t.schema.fields.map(f => f.name.toLowerCase -> f).toMap
        val targets = cols.map(c => byLower.getOrElse(c.toLowerCase,
          throw new SqlParseException(s"INSERT column '$c' not in " +
            s"${t.name} (columns: ${t.schema.fieldNames.mkString(", ")})")))
        if (targets.map(_.name).distinct.size != targets.size)
          throw new SqlParseException("INSERT column list repeats a column")
        if (raw.schema.size != targets.size)
          throw new SqlParseException(
            s"INSERT arity ${raw.schema.size} != column list ${targets.size}")
        val bySrc = targets.map(_.name)
          .zip(raw.columns).toMap
        val writeDefaults = t.meta.columnDefaults
          .flatMap(d => d.write.map(d.colName -> _)).toMap
        raw.select(t.schema.fields.map { f =>
          bySrc.get(f.name).map(c => col(c).cast(f.dataType).as(f.name))
            .getOrElse(writeDefaults.get(f.name)
              .map(v => lit(v).cast(f.dataType).as(f.name))
              .getOrElse(lit(null).cast(f.dataType).as(f.name)))
        }.toSeq: _*)
    }
    val t2 = t.append(aligned)
    status(s"Inserted ${added(t2)} row(s) into $db.$table")
  }

  private def insertOverwrite(s: String, p: Option[String]): DataFrame = {
    val m = """(?is)^INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.]+)\s+(VALUES\s+.*|SELECT\s+.*|WITH\s+.*)$""".r
      .findFirstMatchIn(s).getOrElse(fail("INSERT OVERWRITE … VALUES/SELECT", s))
    val (db, table) = splitName(m.group(1))
    // overwrite = replace everything: the UPDATE decomposition rule
    requirePerm(p, db, table, "DELETE")
    requirePerm(p, db, table, "INSERT")
    val t = load(db, table)
    val body = m.group(2)
    val raw =
      if (body.toUpperCase.startsWith("VALUES")) spark.sql(s"SELECT * FROM $body")
      else select(body, p)
    // same arity guard as insert() (ADVICE r4): zip would silently drop
    // extra source columns or commit files missing trailing schema
    // columns — and overwrite replaces the WHOLE live file set, so a
    // malformed statement must fail, never land
    if (raw.schema.size != t.schema.size)
      throw new SqlParseException(
        s"INSERT OVERWRITE arity ${raw.schema.size} != table arity ${t.schema.size}")
    val aligned = raw.select(raw.columns.zip(t.schema.fields).map {
      case (c, f) => col(c).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    // Spark's standard partition-overwrite knob selects the dynamic
    // semantics (replace only touched partitions) on partitioned tables
    val dynamic = spark.conf
      .get("spark.sql.sources.partitionOverwriteMode", "static")
      .equalsIgnoreCase("dynamic")
    val t2 = if (dynamic) t.overwriteDynamic(aligned) else t.overwrite(aligned)
    status(s"Overwrote $db.$table (${added(t2)} row(s))")
  }

  private def truncateStmt(s: String, p: Option[String]): DataFrame = {
    val m = """(?is)^TRUNCATE\s+TABLE\s+([\w.]+)$""".r
      .findFirstMatchIn(s).getOrElse(fail("TRUNCATE TABLE", s))
    val (db, table) = splitName(m.group(1))
    requirePerm(p, db, table, "DELETE")
    load(db, table).truncate()
    status(s"Truncated $db.$table")
  }

  private def delete(s: String, p: Option[String]): DataFrame = {
    val m = """(?is)^DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*))?$""".r
      .findFirstMatchIn(s).getOrElse(fail("DELETE FROM [… WHERE]", s))
    val (db, table) = splitName(m.group(1))
    requirePerm(p, db, table, "DELETE")
    val cond = Option(m.group(2)).map(parsePredicate(_, p)).getOrElse(lit(true))
    load(db, table).delete(cond)
    status(s"Deleted from $db.$table")
  }

  private def update(s: String, p: Option[String]): DataFrame = {
    val m = """(?is)^UPDATE\s+([\w.]+)\s+SET\s+(.*)$""".r
      .findFirstMatchIn(s).getOrElse(fail("UPDATE … SET [… WHERE]", s))
    val (db, table) = splitName(m.group(1))
    // MoR UPDATE = delete file + appended rewrite (J3)
    requirePerm(p, db, table, "DELETE")
    requirePerm(p, db, table, "INSERT")
    // split SET from WHERE at the first UNQUOTED keyword — a regex split
    // would bite on a WHERE inside an assignment's string literal
    val rest = m.group(2)
    val wi = indexOfUnquoted(rest, "WHERE")
    val (setPart, condPart) =
      if (wi < 0) (rest, None) else (rest.take(wi), Some(rest.drop(wi + 5)))
    val assignments: Map[String, Column] = topLevelSplit(setPart, ',').map { a =>
      val i = a.indexOf('=')
      if (i < 0) throw new SqlParseException(s"bad assignment: $a")
      a.take(i).trim -> expr(a.drop(i + 1).trim)
    }.toMap
    val cond = condPart.map(parsePredicate(_, p)).getOrElse(lit(true))
    load(db, table).update(assignments, cond)
    status(s"Updated $db.$table")
  }

  /** MERGE INTO t USING s ON cond — full multi-clause grammar (r10):
    *   WHEN MATCHED [AND cond] THEN UPDATE SET a = expr, … | DELETE   (repeatable)
    *   WHEN NOT MATCHED [AND cond] THEN INSERT * | INSERT (cols) VALUES (exprs)
    * Matched clauses fire in declaration order per row (first condition
    * that holds wins; none ⇒ untouched). Both sides are lake tables with
    * explicit aliases; expressions use the qualified refs. MERGE
    * decomposes to DELETE+INSERT on the target (same grants rule as
    * UPDATE) and SELECT on the source. */
  private def mergeStmt(s: String, p: Option[String]): DataFrame = {
    val m = ("""(?is)^MERGE\s+INTO\s+([\w.]+)(?:\s+AS)?\s+(\w+)\s+""" +
      """USING\s+([\w.]+)(?:\s+AS)?\s+(\w+)\s+ON\s+(.+?)\s*(WHEN\s+.*)$""").r
      .findFirstMatchIn(s).getOrElse(
        fail("MERGE INTO t a USING s b ON … WHEN …", s))
    val (db, table) = splitName(m.group(1)); val tAlias = m.group(2)
    val (sdb, stable) = splitName(m.group(3)); val sAlias = m.group(4)
    val cond = m.group(5); val clauses = m.group(6)
    requirePerm(p, db, table, "DELETE")
    requirePerm(p, db, table, "INSERT")
    requirePerm(p, sdb, stable, "SELECT")
    def assignments(a: String): Map[String, Column] =
      topLevelSplit(a, ',').map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) throw new SqlParseException(s"bad MERGE assignment: $kv")
        kv.take(i).trim -> expr(kv.drop(i + 1).trim)
      }.toMap
    // clause boundaries: `WHEN [NOT] MATCHED` never appears inside the
    // clause bodies this grammar accepts (CASE WHEN lacks the MATCHED
    // keyword), so the keyword is a safe top-level splitter
    val starts = """(?is)WHEN\s+(NOT\s+)?MATCHED\b""".r
      .findAllMatchIn(clauses).toList
    var matchedClauses = Seq.empty[MergeWhenMatched]
    var bySourceClauses = Seq.empty[MergeWhenMatched]
    var notMatched: Option[MergeWhenNotMatched] = None
    starts.zipWithIndex.foreach { case (mm, i) =>
      val end = if (i + 1 < starts.size) starts(i + 1).start else clauses.length
      val seg = clauses.substring(mm.start, end).trim
      if (mm.group(1) != null &&
        """(?is)^WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\b""".r
          .findFirstIn(seg).isDefined) {
        // mirror-sync clause: target rows absent from the source
        val bm = ("""(?is)^WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s*""" +
          """(?:AND\s+(.*?))?\s*THEN\s+(?:UPDATE\s+SET\s+(.*)|(DELETE))\s*$""").r
          .findFirstMatchIn(seg).getOrElse(fail(
            "WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …|DELETE",
            seg))
        val c = Option(bm.group(1)).map(x => parsePredicate(x.trim, p))
        val action =
          if (bm.group(3) != null) MergeMatched.Delete
          else MergeMatched.Update(assignments(bm.group(2)))
        bySourceClauses :+= MergeWhenMatched(c, action)
      } else if (mm.group(1) == null) {
        val cm = ("""(?is)^WHEN\s+MATCHED\s*(?:AND\s+(.*?))?\s*THEN\s+""" +
          """(?:UPDATE\s+SET\s+(.*)|(DELETE))\s*$""").r
          .findFirstMatchIn(seg).getOrElse(fail(
            "WHEN MATCHED [AND cond] THEN UPDATE SET …|DELETE", seg))
        val c = Option(cm.group(1)).map(x => parsePredicate(x.trim, p))
        val action =
          if (cm.group(3) != null) MergeMatched.Delete
          else MergeMatched.Update(assignments(cm.group(2)))
        matchedClauses :+= MergeWhenMatched(c, action)
      } else {
        if (notMatched.isDefined) throw new SqlParseException(
          "MERGE supports at most one WHEN NOT MATCHED clause")
        val im = ("""(?is)^WHEN\s+NOT\s+MATCHED\s*(?:AND\s+(.*?))?\s*THEN\s+""" +
          """INSERT\s*(?:(\*)|\(([^)]*)\)\s*VALUES\s*\((.*)\))\s*$""").r
          .findFirstMatchIn(seg).getOrElse(fail(
            "WHEN NOT MATCHED [AND cond] THEN INSERT *|(cols) VALUES (…)", seg))
        val c = Option(im.group(1)).map(x => parsePredicate(x.trim, p))
        val values =
          if (im.group(2) != null) None
          else {
            val cols = topLevelSplit(im.group(3), ',').map(_.trim)
            val exprs = topLevelSplit(im.group(4), ',').map(x => expr(x.trim))
            if (cols.size != exprs.size) throw new SqlParseException(
              s"INSERT column/value arity mismatch: ${cols.size} vs ${exprs.size}")
            Some(cols.zip(exprs).toMap)
          }
        notMatched = Some(MergeWhenNotMatched(c, values))
      }
    }
    if (matchedClauses.isEmpty && notMatched.isEmpty && bySourceClauses.isEmpty)
      fail("MERGE needs WHEN MATCHED and/or WHEN NOT MATCHED", s)
    val t2 = load(db, table).mergeClauses(
      load(sdb, stable).read(), expr(cond), matchedClauses, notMatched,
      targetAlias = tAlias, sourceAlias = sAlias,
      notMatchedBySource = bySourceClauses)
    val sum = t2.currentSnapshot.map(_.summary).getOrElse(Map.empty)
    status(s"Merged into $db.$table (matched=${sum.getOrElse("matched-records", "0")}, " +
      s"inserted=${sum.getOrElse("inserted-records", "0")})")
  }

  private def alter(s: String, p: Option[String]): DataFrame = {
    val head = """(?is)^ALTER\s+TABLE\s+([\w.]+)\s+(.*)$""".r
      .findFirstMatchIn(s).getOrElse(fail("ALTER TABLE …", s))
    val (db, table) = splitName(head.group(1))
    requirePerm(p, db, table, "ALTER")
    val t = load(db, table)
    val rest = head.group(2).trim
    // UNSET TBLPROPERTIES ('k1' [, 'k2' …]) — removes the keys; missing
    // keys are a no-op (Spark's IF EXISTS semantics, always on here)
    """(?is)^UNSET\s+TBLPROPERTIES\s*\((.*?)\)\s*$""".r
      .findFirstMatchIn(rest).foreach { um =>
        val keys = topLevelSplit(um.group(1), ',')
          .map(k => unquote(k.trim)).filter(_.nonEmpty)
        if (keys.isEmpty) throw new SqlParseException(
          s"UNSET TBLPROPERTIES needs at least one key on $db.$table")
        t.withMeta(t.meta.copy(props = t.meta.props -- keys))
        return status(s"Unset ${keys.size} propert(y/ies) on $db.$table")
      }
    val setProps = """(?is)^SET\s+TBLPROPERTIES\s*\(""".r.findFirstMatchIn(rest)
    val addCols = """(?is)^ADD\s+COLUMNS?\s+\(?(.*?)\)?\s*$""".r.findFirstMatchIn(rest)
    val dropCol = """(?is)^DROP\s+COLUMNS?\s+(\w+)\s*$""".r.findFirstMatchIn(rest)
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
    // metadata-only schema evolution (M48): RENAME COLUMN and widening
    // ALTER COLUMN … TYPE — no file rewrite; the change-log entry makes
    // every reader epoch-aware
    """(?is)^RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$""".r
      .findFirstMatchIn(rest).foreach { m =>
        t.renameColumn(m.group(1), m.group(2))
        return status(
          s"Renamed column ${m.group(1)} to ${m.group(2)} on $db.$table")
      }
    """(?is)^ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+(.+?)\s*$""".r
      .findFirstMatchIn(rest).foreach { m =>
        val dt = try StructType.fromDDL(s"x ${m.group(2)}").fields.head.dataType
        catch { case scala.util.control.NonFatal(_) =>
          throw new SqlParseException(
            s"ALTER COLUMN TYPE: cannot parse type '${m.group(2)}'") }
        t.widenColumn(m.group(1), dt)
        return status(
          s"Widened column ${m.group(1)} to ${dt.sql} on $db.$table")
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
        // Iceberg's full sort-item grammar: column [ASC|DESC]
        // [NULLS FIRST|LAST]. Qualifiers canonicalize (lowercased) into
        // the stored property; the write path honors them. An
        // unparseable item or empty list gets its own message — not the
        // r8 behavior of validating 'ts desc' as a column name (or
        // rendering an empty unknown-column list).
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
    (setProps, addCols, dropCol) match {
      case (Some(pm), _, _) =>
        val props = parseProps(balancedParen(rest, pm.end - 1)._1)
        // 'format-version'='3' is the upgrade statement
        // (upgrade_table.py:128): it must mint next-row-id, so route
        // through the procedure (M1)
        // one commit for upgrade + remaining properties — two commits
        // could be half-applied if a concurrent writer lands between
        val t2 = props.get("format-version") match {
          case Some(v) =>
            Procedures.upgradeFormatVersion(t, v.toInt,
              extraProps = props - "format-version")
          case None => t.setProperties(props)
        }
        status(s"Altered $db.$table (format-version=${t2.meta.formatVersion})")
      case (_, Some(am), _) =>
        // each spec is `name TYPE [DEFAULT <literal>]` (M46)
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
      case (_, _, Some(dm)) =>
        t.dropColumn(dm.group(1))
        status(s"Dropped column ${dm.group(1)} from $db.$table")
      case _ =>
        fail("ALTER TABLE … SET TBLPROPERTIES | ADD COLUMN(S) | DROP COLUMN", s)
    }
  }

  private def call(s: String, p: Option[String]): DataFrame = {
    val m = """(?is)^CALL\s+(?:[\w.]+\.)?(\w+)\s*\(""".r
      .findFirstMatchIn(s).getOrElse(fail("CALL proc(...)", s))
    val (argStr, _) = balancedParen(s, m.end - 1)
    val args = topLevelSplit(argStr, ',').map { a =>
      val i = a.indexOf("=>")
      if (i < 0) throw new SqlParseException(s"CALL args must be named: $a")
      a.take(i).trim.toLowerCase -> a.drop(i + 2).trim
    }.toMap
    val (db, table) = splitName(unquote(args.getOrElse("table",
      throw new SqlParseException("CALL missing table => …"))))
    val procName = m.group(1).toLowerCase
    // snapshot CREATES its target, so it runs before the exists-gated
    // perm check/load — table creation is ungated, like CREATE TABLE
    if (procName == "snapshot") {
      val source = unquote(args.getOrElse("source",
        throw new SqlParseException("snapshot needs source => '<path>'")))
      val (t2, nFiles, nRows) = Procedures.snapshotTable(catalog, db, table, source)
      import catalog.spark.implicits._
      return Seq((t2.name, nFiles, nRows))
        .toDF("table_name", "added_files_count", "added_records_count")
    }
    // maintenance procedures mutate the table (ALTER); the changelog view
    // is a read and gates like one
    requirePerm(p, db, table,
      if (procName == "create_changelog_view") "SELECT" else "ALTER")
    val t = load(db, table)
    procName match {
      case "rewrite_data_files" =>
        // options => map('k','v',…) — F2 map constructor
        val opts = args.get("options").map(parseMapLiteral).getOrElse(Map.empty)
        val r = Procedures.rewriteDataFiles(t, opts)
        import catalog.spark.implicits._
        Seq((r.rewrittenDataFiles, r.addedDataFiles, r.removedDeleteFiles))
          .toDF("rewritten_data_files_count", "added_data_files_count",
            "removed_delete_files_count")
      case "expire_snapshots" =>
        // table-property retention policy supplies the defaults (M53)
        val (defOlder, defRetain) =
          Procedures.expireDefaults(t, System.currentTimeMillis())
        val olderThan = args.get("older_than").map(parseTsLiteral)
          .getOrElse(defOlder)
        val retainLast = args.get("retain_last").map(_.toInt)
          .getOrElse(defRetain)
        val r = Procedures.expireSnapshots(t, olderThan, retainLast)
        import catalog.spark.implicits._
        Seq((r.expiredSnapshots, r.deletedFiles))
          .toDF("deleted_snapshots_count", "deleted_files_count")
      case "repair_v3_metadata" =>
        val r = Procedures.repairV3Metadata(t)
        status(s"next-row-id = ${r.meta.nextRowId}")
      case "analyze_table" =>
        // columns => 'a,b' scopes the pass; default = every scalar column
        val cols = args.get("columns").map(unquote(_).split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
        val r = Procedures.analyzeTable(t, cols)
        import catalog.spark.implicits._
        val ts = r.meta.tableStats.get
        Seq((ts.columns.size, ts.rowCount))
          .toDF("analyzed_columns_count", "row_count")
      case "add_files" =>
        val source = unquote(args.getOrElse("source",
          throw new SqlParseException("add_files needs source => '<path>'")))
        val (_, nFiles, nRows) = Procedures.addFiles(t, source)
        import catalog.spark.implicits._
        Seq((nFiles, nRows)).toDF("added_files_count", "added_records_count")
      case "rewrite_position_delete_files" =>
        val (_, consolidated, written) =
          Procedures.rewritePositionDeleteFiles(t)
        import catalog.spark.implicits._
        Seq((consolidated, written))
          .toDF("rewritten_delete_files_count", "added_delete_files_count")
      case "rewrite_manifests" =>
        val (_, before, after) = Procedures.rewriteManifests(t)
        import catalog.spark.implicits._
        Seq((before, after)).toDF("segments_before", "segments_after")
      case "remove_orphan_files" =>
        // older_than is the age cutoff guard (Iceberg's default: 3 days);
        // passing it explicitly is how tests / operators GC young orphans
        val n = args.get("older_than").map(parseTsLiteral) match {
          case Some(cutoff) => Procedures.removeOrphanFiles(t, cutoff)
          case None => Procedures.removeOrphanFiles(t)
        }
        import catalog.spark.implicits._
        Seq(n).toDF("deleted_orphan_files_count")
      case "rollback_to_snapshot" =>
        val snapId = unquote(args.getOrElse("snapshot_id",
          throw new SqlParseException("rollback needs snapshot_id => …"))).toLong
        val r = t.rollbackTo(snapId)
        status(s"rolled back $db.$table to snapshot $snapId " +
          s"(new snapshot ${r.currentSnapshot.get.id})")
      case "fast_forward" =>
        // Iceberg's publish procedure: main := branch head (see
        // LakeTable.fastForward for the ancestry-free semantics)
        val branch = unquote(args.getOrElse("branch",
          throw new SqlParseException("fast_forward needs branch => …")))
        val r = t.fastForward(branch)
        status(s"fast-forwarded $db.$table to branch $branch " +
          s"(snapshot ${r.currentSnapshot.get.id})")
      case "create_changelog_view" =>
        // Iceberg's changelog procedure: registers the row-level diff
        // feed (LakeTable.readChangelog) as a temp view and returns its
        // name. start_/end_snapshot_id bound the (from, to] range —
        // start omitted = table start, end omitted = current snapshot.
        val from = args.get("start_snapshot_id").map(unquote(_).toLong)
        val to = args.get("end_snapshot_id").map(unquote(_).toLong)
          .orElse(t.currentSnapshot.map(_.id)).getOrElse(
            throw new SqlParseException(s"$db.$table has no snapshots"))
        val carry = args.get("remove_carryovers").forall(unquote(_).toBoolean)
        val view = unquote(args.getOrElse("changelog_view", s"'${table}_changes'"))
        t.readChangelog(from, to, carry).createOrReplaceTempView(view)
        import catalog.spark.implicits._
        Seq(view).toDF("changelog_view")
      case other => throw new SqlParseException(s"unknown procedure: $other")
    }
  }

  /** SHOW TABLES [IN db] / SHOW PARTITIONS db.t / SHOW CREATE TABLE
    * db.t — the DDL-introspection trio every SQL surface is expected to
    * answer. SHOW TABLES lists through the catalog's headers-only path
    * (no manifest reads); SHOW PARTITIONS is the `.partitions` metadata
    * rollup; SHOW CREATE TABLE round-trips through this dispatcher's own
    * CREATE grammar (transform specs included). */
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
    val m = """(?is)^DESCRIBE\s+(EXTENDED\s+)?(?:TABLE\s+)?([\w.]+)$""".r
      .findFirstMatchIn(s).getOrElse(fail("DESCRIBE [EXTENDED]", s))
    val (db, table) = splitName(m.group(2))
    // DESCRIBE EXTENDED (r10): the schema plus the operational detail
    // block — format version, location, snapshot/file/byte footprint,
    // partitioning and properties — the one-stop table health view
    // (Delta's DESCRIBE DETAIL / Spark's DESCRIBE EXTENDED shape).
    // Metadata-scale: counts come from the current snapshot's manifest,
    // no data I/O.
    if (m.group(1) != null && catalog.viewInfo(db, table).isEmpty) {
      requirePerm(p, db, table, "DESCRIBE")
      val t = load(db, table)
      import catalog.spark.implicits._
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
      import catalog.spark.implicits._
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

  /** SELECT (and WITH): lake tables referenced as `db.t` are registered
    * as temp views and the identifiers rewritten, then Catalyst plans the
    * query — the engine adds MoR semantics at the leaf and Spark does the
    * rest (SURVEY §3.1 restatement). Sessions with [[LakeSparkCatalog]]
    * registered additionally resolve `lake.db.t` / `glue_catalog.db.t`
    * natively; the dispatcher normalizes those spellings to the bare
    * form so both setups accept the reference's statements.
    *
    * Rewriting is identifier-boundary-aware (VERDICT r3 #2): each match
    * requires a non-identifier character on both sides (so `demo.t`
    * never fires inside `demo.t2` or `xdemo.t`), an optional catalog
    * prefix is consumed by the same match (no global prefix strip), names
    * are tried longest-first, and string literals / backquoted
    * identifiers are never touched — which also keeps the grants check
    * keyed to real references only. */
  private def select(s: String, p: Option[String]): DataFrame =
    spark.sql(rewriteLakeRefs(s, p))

  /** DML predicate parser: plain expressions go straight to Catalyst's
    * `expr`; predicates carrying a subquery (`id IN (SELECT …)`,
    * `EXISTS (SELECT …)`) first run the lake-ref rewriter so inner lake
    * tables resolve as registered views — and the SELECT grants check
    * fires on each of them. Catalyst resolves predicate subqueries inside
    * Filter, which is exactly where DML conditions land. */
  private[lake] def parsePredicate(pred: String, p: Option[String]): Column =
    if ("""(?is)\(\s*SELECT\b""".r.findFirstIn(pred).isDefined)
      expr(rewriteLakeRefs(pred, p))
    else expr(pred)

  /** Rewrite lake-table references in a SQL fragment to temp views.
    *
    * Cost is O(statement), not O(warehouse) (VERDICT r4 #3): candidate
    * dotted identifiers are extracted from the fragment's unquoted
    * segments and only those names are probed against the catalog — a
    * SELECT over one table in a 10k-table warehouse reads one table's
    * headers, and `SELECT 1` reads none. */
  /** Dotted (db, name) candidates in a SQL fragment's unquoted segments
    * — shared by the ref rewriter and materialized-view freshness
    * tracking, so both see the same dependency set by construction. */
  private def candidateRefs(s: String): Seq[(String, String)] = {
    val idRe = """[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+""".r
    quoteSegments(s).collect { case (seg, false) => seg }
      .flatMap(seg => idRe.findAllIn(seg).toSeq)
      .flatMap { chain =>
        // One probe per chain (VERDICT r5 #3): a table ref always starts
        // at segment 0, or segment 1 when spelled with a catalog prefix
        // (which the rewrite regex consumes anyway). Longer tails are
        // metadata-table suffixes or qualified columns — never the `db`
        // of the pair — so sliding over every adjacent pair only buys
        // wasted path probes.
        val segs = chain.split('.')
        val body =
          if (segs.length >= 3 && (segs(0) == "glue_catalog" || segs(0) == "lake"))
            segs.drop(1)
          else segs
        if (body.length >= 2) Seq((body(0), body(1))) else Seq.empty
      }
      .distinct
  }

  private def rewriteLakeRefs(s: String, p: Option[String],
      depth: Int = 0): String = {
    val candidates = candidateRefs(s)
    // every candidate is \w+ segments (the identifier regex), so the
    // probe is a safe path resolution; non-tables return None
    val lakeRefs = candidates.filter { case (db, name) =>
      catalog.tableInfo(db, name).exists(_.tableType == "LAKE")
    }
    // names that are VIEWS (M49) expand to their stored definition —
    // recursively, so views may stack on views; the depth guard turns a
    // definition cycle into a clear error instead of a stack overflow
    val viewRefs = {
      val t = lakeRefs.toSet
      candidates.filterNot(t).filter { case (db, name) =>
        catalog.viewExists(db, name) }
    }
    // Per-STATEMENT unique view names (review r7): temp-view names are
    // session-global, so with deterministic names one thread's cleanup
    // could drop the view a concurrent statement just registered but
    // hadn't analyzed — a hard TABLE_OR_VIEW_NOT_FOUND, not a benign
    // content race. A statement-scoped suffix makes every registered
    // name unobservable to other statements; cleanup then provably only
    // touches its own views.
    val stmtSfx = s"_s${LakeSql.viewEpoch.incrementAndGet()}"
    var rewritten = s
    for ((db, name) <- lakeRefs.sortBy { case (d, n) => -(d.length + n.length) }) {
      val base = "(?<![\\w.])(?:(?:glue_catalog|lake)\\.)?" +
        java.util.regex.Pattern.quote(s"$db.$name")
      // metadata tables first (`db.t.history` would otherwise be split
      // by the plain rewrite into `view.history`): Iceberg's metadata
      // table spellings resolve to driver-side projections
      for ((suffix, make) <- Seq[(String, LakeTable => DataFrame)](
        "history" -> (_.history()),
        "snapshots" -> (_.history()),
        "all_files" -> (_.allFilesMetadata()),
        "files" -> (_.filesMetadata()),
        "manifests" -> (_.manifestsMetadata()),
        "partitions" -> (_.partitionsMetadata()),
        "metadata_log" -> (_.metadataLogMetadata()),
        "refs" -> (_.refsMetadata()))) {
        val mre = (base + "\\." + suffix + "(?!\\w)").r
        if (containsOutsideQuotes(rewritten, mre)) {
          requirePerm(p, db, name, "SELECT")
          val view = s"${db}__${name}__$suffix$stmtSfx"
          make(load(db, name)).createOrReplaceTempView(view)
          createdViews.get() += view;
          rewritten = mapOutsideQuotes(rewritten, seg => mre.replaceAllIn(seg, view))
        }
      }
      // time travel next (the plain pattern would split the clause):
      // `db.t TIMESTAMP AS OF '<ts>'` resolves to the snapshot current at
      // that instant. The literal itself is a quoted segment, so this one
      // pattern runs over the full string and guards on the *match start*
      // being outside quotes instead of using the segment mapper.
      val tta = (base + "\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']*)'").r
      rewritten = replaceWhereStartUnquoted(rewritten, tta, m => {
        requirePerm(p, db, name, "SELECT")
        val t = load(db, name)
        val snapId = t.snapshotIdAsOf(parseTsLiteral(s"TIMESTAMP '${m.group(1)}'"))
        val view = s"${db}__${name}__t$snapId$stmtSfx"
        t.readSnapshot(snapId).createOrReplaceTempView(view)
          createdViews.get() += view;
        view
      })
      // `db.t VERSION AS OF <id>` → a view over that snapshot's scan
      val tt = (base + "\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)(?!\\w)").r
      rewritten = mapOutsideQuotes(rewritten, seg =>
        tt.replaceAllIn(seg, m => {
          requirePerm(p, db, name, "SELECT")
          val snapId = m.group(1).toLong
          val view = s"${db}__${name}__v$snapId$stmtSfx"
          load(db, name).readSnapshot(snapId).createOrReplaceTempView(view)
          createdViews.get() += view;
          view
        }))
      // `db.t VERSION AS OF '<tag-or-branch>'` (r10): the dispatcher
      // accepts the same named-ref spelling the native catalog resolves —
      // tags win a (discouraged) collision because they are immutable;
      // a branch name reads its current head. The quoted literal sits in
      // a quoted segment, so this runs over the full string guarded on
      // the match START being unquoted (the TIMESTAMP AS OF device).
      val ttn = (base + "\\s+VERSION\\s+AS\\s+OF\\s+'([^']+)'").r
      rewritten = replaceWhereStartUnquoted(rewritten, ttn, m => {
        requirePerm(p, db, name, "SELECT")
        val t = load(db, name)
        val ref = m.group(1)
        val snapId = t.meta.tags.get(ref)
          .orElse(t.meta.branches.get(ref))
          .getOrElse(throw new SqlParseException(
            s"VERSION AS OF '$ref': not a tag or branch on ${t.name} " +
              s"(tags: ${t.meta.tags.keys.mkString(", ")}; " +
              s"branches: ${t.meta.branches.keys.mkString(", ")})"))
        val view = s"${db}__${name}__v$snapId$stmtSfx"
        t.readSnapshot(snapId).createOrReplaceTempView(view)
        createdViews.get() += view
        view
      })
      val re = (base + "(?!\\w)").r
      if (containsOutsideQuotes(rewritten, re)) {
        requirePerm(p, db, name, "SELECT")
        val view = s"${db}__$name$stmtSfx"
        load(db, name).read().createOrReplaceTempView(view)
          createdViews.get() += view;
        rewritten = mapOutsideQuotes(rewritten, seg => re.replaceAllIn(seg, view))
      }
    }
    for ((db, name) <- viewRefs.sortBy { case (d, n) => -(d.length + n.length) }) {
      val base = "(?<![\\w.])(?:(?:glue_catalog|lake)\\.)?" +
        java.util.regex.Pattern.quote(s"$db.$name")
      val re = (base + "(?!\\w)").r
      if (containsOutsideQuotes(rewritten, re)) {
        if (depth >= LakeSql.MaxViewDepth)
          throw new SqlParseException(
            s"view nesting exceeds ${LakeSql.MaxViewDepth} expanding " +
              s"$db.$name — circular view definition?")
        val vm = catalog.viewInfo(db, name).get
        val view = s"${db}__$name$stmtSfx"
        // invoker rights: the stored text re-resolves with the READER's
        // principal, so underlying-table SELECT gates fire per read —
        // and the materialized fast path (M51) re-checks the same gates
        // on every recorded dependency before serving storage
        val expanded =
          if (vm.props.get("materialized").contains("true") && mvFresh(vm, p))
            load(db, vm.props("storage")).read()
          else catalog.spark.sql(rewriteLakeRefs(vm.sql, p, depth + 1))
        expanded.createOrReplaceTempView(view)
        createdViews.get() += view
        rewritten = mapOutsideQuotes(rewritten, seg => re.replaceAllIn(seg, view))
      }
    }
    rewritten
  }

  // --------------------------------------------------------------- helpers

  private def load(db: String, table: String): LakeTable =
    catalog.loadTable(db, table).getOrElse(
      throw new IllegalArgumentException(
        if (catalog.viewExists(db, table))
          s"$db.$table is a view — DML and maintenance target tables " +
            "(query it with SELECT, or redefine it with CREATE OR REPLACE VIEW)"
        else s"table $db.$table does not exist"))

  private def added(t: LakeTable): String =
    t.currentSnapshot.flatMap(_.summary.get("added-records")).getOrElse("?")

  private def status(msg: String): DataFrame = {
    import catalog.spark.implicits._
    Seq(msg).toDF("status")
  }

  /** M10 enforcement: a principal needs the permission (or ALL) on the
    * table; unset principal = administrative caller, unrestricted. A
    * missing table skips the check — the statement then fails with its
    * own does-not-exist error. */
  private def requirePerm(
      p: Option[String], db: String, table: String, perm: String,
      missingOk: Boolean = false): Unit =
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
  /** Statement counter feeding the per-statement temp-view suffix. */
  private[lake] val viewEpoch = new java.util.concurrent.atomic.AtomicLong()

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

  /** Split `s` into segments, flagging single-quoted string literals
    * (with `''` escaping) and backquoted identifiers so rewrites can skip
    * them. Segments concatenate back to `s` verbatim. */
  /** First position of an unquoted word-boundary keyword, -1 if none. */
  private[lake] def indexOfUnquoted(s: String, kw: String): Int = {
    var off = 0
    for ((seg, quoted) <- quoteSegments(s)) {
      if (!quoted) {
        val m = ("(?i)(?<![\\w])" + kw + "(?![\\w])").r.findFirstMatchIn(seg)
        if (m.isDefined) return off + m.get.start
      }
      off += seg.length
    }
    -1
  }

  private[lake] def quoteSegments(s: String): Seq[(String, Boolean)] = {
    val out = Seq.newBuilder[(String, Boolean)]
    var i = 0; var start = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'' || c == '`' || c == '"') {
        if (i > start) out += ((s.substring(start, i), false))
        var j = i + 1; var closed = false
        while (j < s.length && !closed) {
          if (s.charAt(j) == c) {
            if (c == '\'' && j + 1 < s.length && s.charAt(j + 1) == '\'') j += 2
            else closed = true
          } else j += 1
        }
        val end = if (closed) j + 1 else s.length
        out += ((s.substring(i, end), true))
        start = end; i = end
      } else i += 1
    }
    if (start < s.length) out += ((s.substring(start), false))
    out.result()
  }

  private[lake] def containsOutsideQuotes(
      s: String, re: scala.util.matching.Regex): Boolean =
    quoteSegments(s).exists { case (seg, q) => !q && re.findFirstIn(seg).isDefined }

  private[lake] def mapOutsideQuotes(s: String, f: String => String): String =
    quoteSegments(s).map { case (seg, q) => if (q) seg else f(seg) }.mkString

  /** Full-string regex replace for patterns that legitimately *end* inside
    * a quoted literal (e.g. `TIMESTAMP AS OF '…'`): a match fires only if
    * it *starts* in an unquoted segment, so occurrences embedded entirely
    * within string literals are left untouched. */
  private[lake] def replaceWhereStartUnquoted(
      s: String,
      re: scala.util.matching.Regex,
      f: scala.util.matching.Regex.Match => String): String = {
    val unquotedRanges = {
      var off = 0
      quoteSegments(s).flatMap { case (seg, q) =>
        val r = if (q) None else Some((off, off + seg.length)); off += seg.length; r
      }
    }
    re.replaceAllIn(s, m =>
      if (unquotedRanges.exists { case (a, b) => m.start >= a && m.start < b })
        scala.util.matching.Regex.quoteReplacement(f(m))
      else scala.util.matching.Regex.quoteReplacement(m.matched))
  }

  /** Content of the parenthesized group opening at `open` (s(open) must be
    * '('), plus everything after the close. */
  private[lake] def balancedParen(s: String, open: Int): (String, String) = {
    var depth = 0; var i = open; var inQuote = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return (s.substring(open + 1, i), s.substring(i + 1))
        case _ =>
      }
      i += 1
    }
    throw new SqlParseException(s"unbalanced parentheses in: ${s.take(80)}")
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

  /** TBLPROPERTIES ('k'='v', …) */
  /** Values use standard SQL quote-doubling for embedded single quotes
    * (`'it''s'` → `it's`) — the same escaping [[LakeTable.showCreate]]
    * emits, keeping SHOW CREATE TABLE round-trippable for any value. */
  private[lake] def parseProps(s: String): Map[String, String] =
    topLevelSplit(s, ',').map { kv =>
      val m = """'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'""".r
        .findFirstMatchIn(kv)
        .getOrElse(throw new SqlParseException(s"bad property: $kv"))
      m.group(1).replace("''", "'") -> m.group(2).replace("''", "'")
    }.toMap

  /** map('k1','v1','k2','v2') — the reference's CALL options shape (F2,
    * upgrade_table.py:124,129). */
  private[lake] def parseMapLiteral(s: String): Map[String, String] = {
    val m = """(?is)^map\s*\(""".r.findFirstMatchIn(s.trim)
      .getOrElse(throw new SqlParseException(s"expected map(...): $s"))
    val items = topLevelSplit(balancedParen(s.trim, m.end - 1)._1, ',')
      .map(unquote)
    if (items.size % 2 != 0)
      throw new SqlParseException(s"map(...) needs an even item count: $s")
    items.grouped(2).map { case Seq(k, v) => k -> v }.toMap
  }

  /** TIMESTAMP '2030-01-01 00:00:00' → epoch ms, UTC (F3). */
  private[lake] def parseTsLiteral(s: String): Long = {
    val m = """(?is)^TIMESTAMP\s+'([^']*)'$""".r.findFirstMatchIn(s.trim)
      .getOrElse(throw new SqlParseException(s"expected TIMESTAMP '…': $s"))
    LocalDateTime.parse(m.group(1).replace(' ', 'T'))
      .toInstant(ZoneOffset.UTC).toEpochMilli
  }

  private[lake] def unquote(s: String): String = {
    val t = s.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1)
    else t
  }
}
