package graft.lake

import java.net.URLDecoder
import java.nio.file.{Files, Path}
import java.util.{Comparator, UUID}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType}

/** Thrown when a strict (v2-MoR-incapable) reader hits live v2 delete
  * files — reproducing the "Databricks cannot read V2 merge-on-read
  * delete files" failure the reference exists to fix
  * (/root/reference/README.md:5-7). */
class UnsupportedV2DeletesException(msg: String) extends RuntimeException(msg)

/** WHEN MATCHED action of a MERGE: update with assignments or delete. */
sealed trait MergeMatched
object MergeMatched {
  final case class Update(assignments: Map[String, Column]) extends MergeMatched
  case object Delete extends MergeMatched
}

/** One `WHEN MATCHED [AND cond] THEN UPDATE/DELETE` clause (r10 full
  * MERGE grammar). Clauses fire in declaration order per matched row —
  * the FIRST whose condition holds wins; a matched row satisfying no
  * clause stays untouched (standard SQL MERGE semantics). Conditions
  * see both aliases (t.x, s.y) like assignments do. */
final case class MergeWhenMatched(
    condition: Option[Column], action: MergeMatched)

/** `WHEN NOT MATCHED [AND cond] THEN INSERT` — `values = None` is
  * `INSERT *` (source columns by target-schema name); explicit values
  * map target columns to expressions over the SOURCE row. */
final case class MergeWhenNotMatched(
    condition: Option[Column], values: Option[Map[String, Column]])

/** Thrown for a v3 table whose metadata was never assigned `next-row-id`
  * (/root/reference/README.md:43-45 — the "bricked table" case). */
class MissingRowLineageException(msg: String) extends RuntimeException(msg)

/** A versioned lake table on Spark primitives.
  *
  * Reads are MoR-aware: the scan unions the current snapshot's data files
  * and drops rows whose (`_metadata.file_path`, `_metadata.row_index`) —
  * the same (file, pos) coordinates Iceberg position deletes use
  * (SURVEY.md §4.3) — a position delete or deletion vector names. Within
  * `spark.graft.dv.broadcastBudgetBytes` both kinds load on the driver
  * as per-file bitmaps behind one broadcast membership filter; past it,
  * one anti-join over their (file, pos) pairs. Equality deletes are scoped by
  * sequence number: they drop only rows from data files strictly older
  * than the delete commit, so a key re-inserted after a DELETE stays
  * visible; their anti-join is broadcast within the same budget.
  * Building a read launches no Spark job. Writes produce
  * immutable parquet data files; every mutation is a new snapshot
  * committed via Meta.commit.
  *
  * Row lineage (v3): rows appended to implicit files get ids
  * firstRowId + row_index; files produced by UPDATE/CoW/compaction carry
  * the original `_row_id` as a physical column so lineage survives
  * rewrites (ids are preserved when rows are copied, never re-minted).
  *
  * Partition handling: partition columns are kept *inside* the data files
  * (like Iceberg) and additionally mirrored into hive-style
  * `__p_<col>=<val>/` directories at write time, whose values are recorded
  * per-file in metadata — so partition pruning is a metadata-only file
  * selection (no directory listing) and scans never depend on Spark
  * partition discovery.
  *
  * Scale posture: per-file attributes (sequence number, firstRowId) reach
  * tasks via broadcast joins on the file path — never via driver-built
  * closures — and DML never funnels rows through a single task; the only
  * driver-side state is the file *listing*, which is metadata-scale by
  * construction (same as Iceberg's manifests).
  */
class LakeTable(
    val spark: SparkSession,
    val location: Path,
    val meta: TableMetadata,
    clock: () => Long = () => System.currentTimeMillis(),
    // metadata version this handle was loaded at; commits CAS against it
    // (None = version-agnostic handle, e.g. freshly created — commit
    // still guards against racing the same target file)
    private val loadedVersion: Option[Int] = None,
    // branch-scoped handle (onBranch): reads resolve the branch head and
    // commits advance the branch pointer; None = main
    private val branch: Option[String] = None) {

  import LakeTable._

  def schema: StructType = meta.schema
  def name: String = meta.name

  /** Parsed partition spec (M36 hidden partitioning). Plain column names
    * parse to identity transforms, so every pre-M36 table reads the same
    * way it always did. Non-strict: collision/duplicate validation ran
    * at DDL time; re-running it on every read would brick a table whose
    * schema later drifted instead of degrading to conservative
    * pruning. */
  lazy val transforms: Seq[PartitionTransform] =
    PartitionTransform.parseAll(meta.partitionCols, schema, strict = false)
  def currentSnapshot: Option[Snapshot] = branch match {
    case None => meta.currentSnapshot
    case Some(b) => meta.snapshots.find(_.id == branchHead(b))
  }

  private def branchHead(b: String): Long =
    meta.branches.getOrElse(b, throw new IllegalArgumentException(
      s"table ${meta.name} has no branch $b " +
        s"(known: ${meta.branches.keys.toSeq.sorted.mkString(", ")}) — " +
        "it may have been dropped since this handle was taken"))
  def dataFiles: Seq[DataFileMeta] =
    remapFileKeys(currentSnapshot.map(_.dataFiles).getOrElse(Nil))
  def deleteFiles: Seq[DeleteFileMeta] =
    remapDeleteKeys(currentSnapshot.map(_.deleteFiles).getOrElse(Nil))

  // ------------------------------------------- schema evolution (M48)

  /** True when the change log contains entries the READ path must act
    * on (drops only retire names; they never alter a file's physical
    * projection). */
  private def hasPhysicalChanges: Boolean =
    meta.schemaChanges.exists(c => c.kind != "drop")

  /** Physical (name, type) that current field `f` has inside a file
    * committed at `fileSeq`: the current schema run BACKWARD through
    * rename/widen entries newer than the file, newest first, so chained
    * steps (a→b→c; int→long after a rename) compose. Reserved metadata
    * columns (`_row_id`) never rename — requireFreshName rejects the
    * prefix — so they pass through unchanged. */
  private def physicalField(f: StructField, fileSeq: Long): StructField = {
    var name = f.name
    var dt = f.dataType
    meta.schemaChanges.reverseIterator.foreach { ch =>
      if (ch.seq > fileSeq && ch.col == name) ch.kind match {
        case "rename" => name = ch.from
        case "widen" =>
          dt = StructType.fromDDL(s"x ${ch.from}").fields.head.dataType
        case _ => () // "drop" retires a name; no physical effect
      }
    }
    if (name == f.name && dt == f.dataType) f else StructField(name, dt, f.nullable)
  }

  /** Forward lift of a metadata KEY (stat / partition-value / equality
    * column name) recorded at `fileSeq` to its current name: oldest-
    * first walk of renames newer than the file. Includes the derived
    * partition-field renames logged with a source rename (ts_day →
    * ts2_day). Idempotent over already-lifted keys, so a carried-over
    * file re-persisted with current keys re-lifts to itself. */
  private def currentName(key: String, fileSeq: Long): String = {
    var k = key
    meta.schemaChanges.foreach { ch =>
      if (ch.kind == "rename" && ch.seq > fileSeq && ch.from == k) k = ch.col
    }
    k
  }

  private def remapFileKeys(fs: Seq[DataFileMeta]): Seq[DataFileMeta] =
    if (meta.schemaChanges.forall(_.kind != "rename")) fs
    else fs.map { f =>
      if (f.stats.isEmpty && f.partitionValues.isEmpty) f
      else f.copy(
        stats = f.stats.map { case (k, v) =>
          currentName(k, f.dataSequenceNumber) -> v },
        partitionValues = f.partitionValues.map { case (k, v) =>
          currentName(k, f.dataSequenceNumber) -> v })
    }

  private def remapDeleteKeys(ds: Seq[DeleteFileMeta]): Seq[DeleteFileMeta] =
    if (meta.schemaChanges.forall(_.kind != "rename")) ds
    else ds.map { d =>
      if (d.equalityCols.isEmpty) d
      else d.copy(equalityCols =
        d.equalityCols.map(currentName(_, d.dataSequenceNumber)))
    }

  private def isMorDelete: Boolean =
    meta.props.getOrElse("write.delete.mode", "copy-on-write") == "merge-on-read"
  private def isMorUpdate: Boolean =
    meta.props.getOrElse("write.update.mode", "copy-on-write") == "merge-on-read"

  /** Sequence number the next commit will carry (single-writer model, like
    * the reference's single upgrade driver — SURVEY.md §7.4). */
  private def nextSeq: Long = meta.lastSequenceNumber + 1

  // ------------------------------------------------------------------ read

  /** MoR-aware scan of the current snapshot.
    *
    * @param strict model a reader without v2 delete-file support
    *               (README.md:5-7): throws if v2 + live delete files.
    * @param partitionFilter metadata-level partition pruning: only data
    *               files whose recorded partition values satisfy the
    *               predicate are scanned.
    */
  def read(
      strict: Boolean = false,
      partitionFilter: Map[String, String] => Boolean = _ => true,
      fileFilter: DataFileMeta => Boolean = _ => true): DataFrame = {
    if (strict && meta.formatVersion == 2 && deleteFiles.nonEmpty)
      throw new UnsupportedV2DeletesException(
        s"table ${meta.name} is format-version 2 with ${deleteFiles.size} " +
          "merge-on-read delete file(s); strict readers cannot scan it " +
          "(upgrade to v3 + compact)")
    if (meta.formatVersion == 3 && meta.nextRowId < 0)
      throw new MissingRowLineageException(
        s"table ${meta.name} is format-version 3 but metadata has no " +
          "next-row-id; run repairV3Metadata")
    readWithCoords(partitionFilter, fileFilter = fileFilter)
      .select(schema.fieldNames.map(col): _*)
  }

  /** Predicate-pruned scan: the public face of metadata-level pruning.
    * `filters` (v1 source filters over DATA columns) drive partition
    * pruning — transform-aware, so a filter on `ts` prunes `days(ts)` /
    * `bucket(N, ts)` partitions (M36 hidden partitioning) — plus
    * footer-stats file skipping. Both prunings are conservative
    * (unrenderable values / unknown stats keep the file); callers still
    * apply the full predicate above the scan, exactly like
    * [[NativeReadRule]] does for native SQL. */
  def readPruned(filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame =
    read(
      partitionFilter = PartitionPruning.predicate(transforms, filters),
      fileFilter = StatsPruning.filePredicate(schema, filters))

  /** Scan with the v3 `_row_id` lineage column. */
  def readWithRowIds(): DataFrame = {
    if (meta.formatVersion < 3)
      throw new IllegalStateException("row lineage requires format-version 3")
    if (meta.nextRowId < 0)
      throw new MissingRowLineageException(s"${meta.name}: next-row-id not minted")
    readWithCoords(withRowIds = true)
      .select((schema.fieldNames.map(col) :+ col(RowIdCol)): _*)
  }

  /** Per-file attributes as a small DataFrame for broadcast joins —
    * replaces the r1 driver-map-in-UDF-closure (O(file-count) memory
    * serialized to every task). */
  private def fileAttrs(files: Seq[DataFileMeta]): DataFrame = {
    import spark.implicits._
    files.map(f => (f.path, f.dataSequenceNumber, f.firstRowId))
      .toDF(AttrPath, AttrSeq, AttrFirst)
  }

  /** Raw data-file scan with normalized (file, pos) coordinate columns.
    *
    * With a rename/widen history (M48) the files no longer share one
    * physical schema: files are grouped by their EPOCH — the physical
    * projection the change log derives for their commit sequence — and
    * each group scans with its own physical schema, renamed/cast onto
    * the current one, then unioned. Epoch count is bounded by DDL
    * events, not data (one vectorized multi-file scan per epoch, filters
    * and pruning push through the union), and compaction rewrites files
    * into the current epoch, so the union collapses back to one scan
    * over time. Tables with no such history keep the exact single-scan
    * plan they always had.
    *
    * Scans are planned from metadata and never listed: each epoch's scan
    * is a [[LakeFileIndex]] over the files' recorded paths and sizes, so
    * no file count launches a listing job. */
  private def scanFiles(files: Seq[DataFileMeta], withRowIdField: Boolean): DataFrame = {
    val want =
      if (withRowIdField) schema.fields :+ StructField(RowIdCol, LongType)
      else schema.fields // parquet schema projection ignores a physical _row_id
    def scanOne(phys: Seq[StructField], fs: Seq[DataFileMeta]): DataFrame = {
      val raw = scanData(spark, StructType(phys), fs)
        .withColumn(FileCol, normPath(col("_metadata.file_path")))
        .withColumn(PosCol, col("_metadata.row_index"))
      if (phys == want.toSeq) raw
      else raw.select(want.toSeq.zip(phys).map { case (cur, ph) =>
        val c = col(ph.name)
        (if (ph.dataType == cur.dataType) c else c.cast(cur.dataType))
          .as(cur.name)
      } ++ Seq(col(FileCol), col(PosCol)): _*)
    }
    if (!hasPhysicalChanges) scanOne(want.toSeq, files)
    else files
      .groupBy(f => want.toSeq.map(physicalField(_, f.dataSequenceNumber)))
      .toSeq
      .sortBy(_._2.map(_.dataSequenceNumber).min)
      .map { case (phys, fs) => scanOne(phys, fs) }
      .reduce(_ unionByName _)
  }

  /** Live rows plus physical coordinates (__fp, __pos) — the input to MoR
    * DML (positions of matched rows become the delete file). With
    * `withRowIds`, also materializes `_row_id` (explicit column for
    * rewritten files, firstRowId + row_index otherwise). */
  private[lake] def readWithCoords(
      partitionFilter: Map[String, String] => Boolean = _ => true,
      withRowIds: Boolean = false,
      fileFilter: DataFileMeta => Boolean = _ => true): DataFrame =
    readLiveFiles(
      dataFiles.filter(f => partitionFilter(f.partitionValues) && fileFilter(f)),
      withRowIds)

  /** Time travel: scan the table as of `snapshotId` — that snapshot's
    * data files with that snapshot's delete files applied (same MoR
    * semantics the current-state scan uses). Fails with a clear error
    * for unknown/expired snapshots. */
  def readSnapshot(snapshotId: Long): DataFrame = {
    val snap = meta.snapshots.find(_.id == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"table ${meta.name} has no snapshot $snapshotId " +
          s"(known: ${meta.snapshots.map(_.id).mkString(", ")}; " +
          "it may have been expired)"))
    readLiveFiles(snap.dataFiles, withRowIds = false, deletes = snap.deleteFiles)
      .select(schema.fieldNames.map(col): _*)
  }

  /** Incremental append scan (Iceberg's incremental read,
    * `start-snapshot-id`/`end-snapshot-id`): the rows ADDED by snapshots
    * in `(fromExclusive, toInclusive]`, read straight from the files
    * those snapshots appended — O(changed data), never a full-table diff.
    * This is the CDC feed a downstream training pipeline tails: each call
    * (or each streaming micro-batch over it) processes only the new data.
    *
    * Semantics per snapshot operation:
    *  - `append` — emit the files it added (exactly the new rows);
    *  - `replace`/compaction — skipped silently: rewrites change no
    *    logical rows, so emitting them would double-count (Iceberg's
    *    incremental scan skips replace the same way);
    *  - anything else (delete/update/merge/upsert/overwrite/truncate/
    *    rollback) mutates existing rows, which an append-only feed cannot
    *    represent: the default THROWS (no silent wrong answer); with
    *    `skipNonAppends` the whole snapshot is skipped and the feed is
    *    documented post-images-of-appends-only (Iceberg's
    *    `streaming-skip-delete/overwrite-snapshots` contract).
    *
    * Delete files are deliberately NOT applied: the emitted rows are the
    * batch as appended. A consumer wanting current-state rows reads the
    * table, not the changelog. Both endpoint snapshots must still be
    * retained — expire_snapshots retention must exceed consumer lag
    * (clear error otherwise, never a silent gap). */
  def readIncremental(
      fromExclusive: Option[Long],
      toInclusive: Long,
      skipNonAppends: Boolean = false): DataFrame =
    readLiveFiles(
      addedFilesBetween(fromExclusive, toInclusive, skipNonAppends),
      withRowIds = false, deletes = Nil)
      .select(schema.fieldNames.map(col): _*)

  /** Bounded-advance endpoint for RATE-LIMITED incremental consumers
    * (the streaming source's `maxSnapshotsPerTrigger`): walking the
    * parent chain from `fromExclusive` toward `toInclusive`, the
    * snapshot id at most `maxSnapshots` chain steps ahead — the full
    * range's end when it already fits the cap. Metadata-only (chain
    * length is bounded by retained snapshots); same retention/branch
    * error contract as [[readIncremental]]. At 100 TB this is what keeps
    * a backfilling stream's micro-batches commit-sized instead of
    * table-sized: a consumer resuming after a week of commits advances
    * N snapshots per trigger, never one giant catch-up batch. */
  def boundedIncrementalEnd(
      fromExclusive: Option[Long],
      toInclusive: Long,
      maxSnapshots: Int): Long = {
    require(maxSnapshots > 0,
      s"maxSnapshots must be positive, got $maxSnapshots")
    val (chain, _) = ancestorChain(fromExclusive, toInclusive)
    if (chain.isEmpty) toInclusive
    else chain.take(maxSnapshots).last.id
  }

  /** File-level form of [[readIncremental]]: the data files added by
    * qualifying snapshots in `(fromExclusive, toInclusive]`, oldest
    * first. Metadata-only; no data I/O.
    *
    * The range follows the PARENT chain from `toInclusive` back to
    * `fromExclusive` — with branches the snapshot log is not a lineage
    * (main and branch commits interleave by id), so a log-order walk
    * would leak one ref's appends into another ref's changelog. Walking
    * ancestry also makes "added files" exact: each snapshot diffs
    * against the snapshot it was actually based on. `fromExclusive` must
    * be an ancestor of `toInclusive`; swapped bounds, cross-branch
    * ranges, and ranges across a non-fast-forward publish all fail by
    * name instead of feeding a gap. */
  private[lake] def addedFilesBetween(
      fromExclusive: Option[Long],
      toInclusive: Long,
      skipNonAppends: Boolean): Seq[DataFileMeta] = {
    val (chain, head) = ancestorChain(fromExclusive, toInclusive)
    chainFiles(chain, first = head.orNull, skipNonAppends)
  }

  /** Ancestor chain for history-following reads: the snapshots in
    * `(fromExclusive, toInclusive]`, oldest first, following parent ids.
    * The second element marks a chain truncated at the retention boundary
    * (only legal with an open start): that snapshot's true parent is
    * expired, so it stands in for the earliest reconstructable state
    * rather than a diff against its parent. */
  private def ancestorChain(
      fromExclusive: Option[Long],
      toInclusive: Long): (List[Snapshot], Option[Snapshot]) = {
    val byId = meta.snapshots.map(s => s.id -> s).toMap
    def known(id: Long, role: String): Snapshot =
      byId.getOrElse(id, throw new IllegalArgumentException(
        s"table ${meta.name} has no snapshot $id ($role bound of the " +
          s"incremental range; known: ${meta.snapshots.map(_.id).sorted.mkString(", ")}) — " +
          "it may have been expired. expire_snapshots retention must " +
          "exceed incremental-consumer lag."))
    fromExclusive.foreach(known(_, "start"))
    if (fromExclusive.contains(toInclusive)) return (Nil, None) // legal empty poll
    // walk parents newest→oldest until the start bound (or the root)
    var chain = List.empty[Snapshot]
    var cur: Option[Snapshot] = Some(known(toInclusive, "end"))
    while (cur.isDefined && !fromExclusive.contains(cur.get.id)) {
      chain ::= cur.get
      cur = cur.get.parentId match {
        case -1L => None // table-initial commit
        case pid => byId.get(pid) match {
          case Some(p) => Some(p)
          case None =>
            // the chain predates retention: with an explicit start this is
            // a hole in the feed (loud); from table start it legitimately
            // begins at the earliest reconstructable state, whose full
            // listing the child snapshot already carries
            if (fromExclusive.isDefined) throw new IllegalArgumentException(
              s"table ${meta.name}: ancestor $pid of snapshot $toInclusive " +
                s"has been expired before reaching start ${fromExclusive.get} — " +
                "expire_snapshots retention must exceed incremental-consumer " +
                "lag, or the start snapshot is on a different branch.")
            return (chain, Some(chain.head))
        }
      }
    }
    if (fromExclusive.isDefined && cur.isEmpty)
      throw new IllegalArgumentException(
        s"table ${meta.name}: snapshot ${fromExclusive.get} is not an " +
          s"ancestor of $toInclusive — an incremental range must follow " +
          "one lineage (swapped bounds, a different branch, or a publish " +
          "that superseded it?)")
    (chain, None)
  }

  /** Emit added-file diffs along an ancestor chain (oldest first).
    * `first` marks a chain truncated at the retention boundary: that
    * snapshot's FULL listing is the earliest reconstructable state (its
    * true parent is expired), so it is emitted whole REGARDLESS of its
    * operation — a compaction or CoW head still lists exactly the live
    * rows. Only a head carrying MoR delete files cannot be expressed as
    * data files alone (some listed rows are dead); that fails by name
    * instead of overfeeding, and never returns an empty feed for a
    * non-empty table. */
  private def chainFiles(chain: List[Snapshot], first: Snapshot,
      skipNonAppends: Boolean): Seq[DataFileMeta] = {
    val byId = meta.snapshots.map(s => s.id -> s).toMap
    chain.flatMap { snap =>
      if (snap eq first) { // truncation head: emit the full state, whole
        if (snap.deleteFiles.nonEmpty) throw new UnsupportedOperationException(
          s"incremental read of ${meta.name}: the earliest retained " +
            s"snapshot ${snap.id} carries merge-on-read delete files, so " +
            "its state cannot be emitted as appended rows. Compact " +
            "(rewrite_data_files) or start the consumer from a full " +
            "table read instead.")
        snap.dataFiles
      } else {
        lazy val prevPaths: Set[String] =
          byId.get(snap.parentId)
            .map(_.dataFiles.map(_.path).toSet).getOrElse(Set.empty)
        snap.operation match {
          case "append" =>
            snap.dataFiles.filterNot(f => prevPaths.contains(f.path))
          case "replace" => Nil // compaction: no logical change
          case op if skipNonAppends => Nil
          case op => throw new UnsupportedOperationException(
            s"incremental read of ${meta.name}: snapshot ${snap.id} is a " +
              s"'$op' commit, which changes existing rows and cannot be " +
              "represented as an append feed. Pass skipNonAppends=true to " +
              "skip such snapshots (appended-rows-only semantics), or read " +
              "the table state directly.")
        }
      }
    }
  }

  /** Row-level CDC changelog over `(fromExclusive, toInclusive]` —
    * Iceberg's changelog scan (the `create_changelog_view` procedure,
    * reference runtime surface). Where [[readIncremental]] is the
    * appends-only fast feed (and throws on row-mutating snapshots), the
    * changelog represents EVERY commit as INSERT/DELETE row diffs:
    *
    *  - files a commit added (append, upsert, CoW rewrite output,
    *    overwrite, MERGE inserts) → their rows as INSERT;
    *  - files a commit dropped (CoW DELETE/UPDATE/MERGE, overwrite,
    *    truncate, rollback) → their parent-live rows as DELETE (rows
    *    already dead under the parent's delete files were reported when
    *    they died and are not re-reported);
    *  - delete files a commit added (MoR DML) → the retained-file rows
    *    they newly hide as DELETE, computed by diffing live (file, pos)
    *    coordinates under the parent's vs this commit's delete files —
    *    the scan semantics themselves ([[applyDeletes]]) decide what
    *    died, so the changelog can never disagree with the table;
    *  - `replace` (compaction) → nothing: no logical row change;
    *  - an UPDATE appears as its DELETE+INSERT pair (Iceberg emits
    *    UPDATE_BEFORE/AFTER pairs only with identifier columns
    *    configured; we keep the pair form).
    *
    * With `removeCarryovers` (default true, matching
    * `create_changelog_view`), rows a copy-on-write rewrite merely copied
    * from an old file into a new one — which the file diff would report
    * as a same-snapshot DELETE+INSERT with identical values — are netted
    * out by value; duplicate rows net by count (two copies deleted, one
    * re-added → one surviving DELETE). Netting shuffles only that
    * commit's changed files: O(changed data), never a table diff.
    *
    * Each emitted row carries `_change_type` ('INSERT'|'DELETE'),
    * `_change_ordinal` (commit position within the range, oldest = 0)
    * and `_commit_snapshot_id`. An expired-ancestor truncation (open
    * start only) emits the earliest reconstructable state as baseline
    * INSERTs — unlike [[readIncremental]], live delete files on that
    * head are no obstacle, because the changelog emits rows (the head's
    * live rows), not files. */
  def readChangelog(
      fromExclusive: Option[Long],
      toInclusive: Long,
      removeCarryovers: Boolean = true): DataFrame = {
    val (chain, truncHead) = ancestorChain(fromExclusive, toInclusive)
    val byId = meta.snapshots.map(s => s.id -> s).toMap
    val dataCols = schema.fieldNames.toSeq
    def tag(df: DataFrame, tpe: String, ord: Int, snapId: Long): DataFrame =
      df.select(dataCols.map(col): _*)
        .withColumn(ChangeTypeCol, lit(tpe))
        .withColumn(ChangeOrdinalCol, lit(ord))
        .withColumn(ChangeSnapshotCol, lit(snapId))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(schema.fields ++ Seq(
        StructField(ChangeTypeCol, StringType),
        StructField(ChangeOrdinalCol, IntegerType),
        StructField(ChangeSnapshotCol, LongType))))
    val parts = chain.zipWithIndex.flatMap { case (snap, ord) =>
      if (truncHead.exists(_ eq snap))
        // retention-truncated head: its live state is the feed's baseline
        Seq(tag(readLiveFiles(snap.dataFiles, withRowIds = false,
          snap.deleteFiles), ChangeInsert, ord, snap.id))
      else if (snap.operation == "replace") Nil // compaction: no row change
      else {
        val parent = byId.get(snap.parentId)
        val pData = parent.map(_.dataFiles).getOrElse(Nil)
        val pDeletes = parent.map(_.deleteFiles).getOrElse(Nil)
        val pPaths = pData.map(_.path).toSet
        val sPaths = snap.dataFiles.map(_.path).toSet
        val added = snap.dataFiles.filterNot(f => pPaths(f.path))
        val removed = pData.filterNot(f => sPaths(f.path))
        // rows of added files are all live inserts: a same-commit equality
        // delete never hides them (strictly-older sequence rule), and
        // position deletes only ever target pre-existing files
        val ins = readLiveFiles(added, withRowIds = false, Nil)
        val del = readLiveFiles(removed, withRowIds = false, pDeletes)
        val pDelPaths = pDeletes.map(_.path).toSet
        val newDeletes = snap.deleteFiles.filterNot(f => pDelPaths(f.path))
        val newlyHidden =
          if (newDeletes.isEmpty) None
          else {
            val retained = snap.dataFiles.filter(f => pPaths(f.path))
            val touched = changelogTouchedFiles(retained, newDeletes)
            val before = readLiveFiles(touched, withRowIds = false, pDeletes)
            val after = readLiveFiles(touched, withRowIds = false, snap.deleteFiles)
            Some(before.join(after,
              before(FileCol) === after(FileCol) && before(PosCol) === after(PosCol),
              "left_anti"))
          }
        val (insOut, delOut) =
          if (removeCarryovers && added.nonEmpty && removed.nonEmpty) {
            val d = "__delta"
            val net = ins.select(dataCols.map(col): _*).withColumn(d, lit(1L))
              .unionByName(del.select(dataCols.map(col): _*).withColumn(d, lit(-1L)))
              .groupBy(dataCols.map(col): _*).agg(sum(col(d)).as(d))
            // |net| copies per value — tag() re-projects to dataCols, so
            // the replication column never reaches the output
            def copies(df: DataFrame) = df.select(
              (dataCols.map(col) :+ explode(sequence(lit(1L), abs(col(d)))).as("__i")): _*)
            (copies(net.filter(col(d) > 0)), copies(net.filter(col(d) < 0)))
          } else (ins, del)
        (if (added.isEmpty && removed.isEmpty) Nil
         else Seq(tag(insOut, ChangeInsert, ord, snap.id),
           tag(delOut, ChangeDelete, ord, snap.id))) ++
          newlyHidden.map(tag(_, ChangeDelete, ord, snap.id))
      }
    }
    parts.foldLeft(empty)(_ unionByName _)
  }

  /** Retained files a fresh batch of delete files could hide rows in —
    * the changelog's scan scope. Position deletes and DVs name their
    * target paths: the `file_path` column of the (small) delete parquet,
    * read on the driver ([[DeleteVectors.targets]], no Spark job).
    * Equality deletes can hit any retained file with a strictly older
    * sequence number. */
  private def changelogTouchedFiles(
      retained: Seq[DataFileMeta],
      newDeletes: Seq[DeleteFileMeta]): Seq[DataFileMeta] = {
    val conf = spark.sessionState.newHadoopConf()
    val posTargets: Set[String] = newDeletes
      .filter(f => f.kind == "position" || f.kind == "dv")
      .flatMap(f => DeleteVectors.targets(conf, f.path)).toSet
    val eqMaxSeq = newDeletes.filter(_.kind == "equality")
      .map(_.dataSequenceNumber).maxOption
    retained.filter(f => posTargets.contains(f.path) ||
      eqMaxSeq.exists(f.dataSequenceNumber < _))
  }

  /** Time travel by timestamp: the snapshot current as of `tsMillis`
    * (latest commit at or before it), Iceberg's `TIMESTAMP AS OF` rule. */
  def snapshotIdAsOf(tsMillis: Long): Long =
    meta.snapshots.filter(_.timestampMs <= tsMillis)
      .sortBy(s => (s.timestampMs, s.id)).lastOption.map(_.id)
      .getOrElse(throw new IllegalArgumentException(
        s"table ${meta.name} has no snapshot at or before " +
          s"${java.time.Instant.ofEpochMilli(tsMillis)}"))

  /** Current data-file listing as a queryable projection (the Iceberg
    * `db.t.files` metadata table): path, partition values, row count,
    * size and per-column bounds rendered as strings. Driver-side
    * metadata, no data jobs. */
  def filesMetadata(): DataFrame = {
    import spark.implicits._
    dataFiles
      .map(f => (f.path, f.partitionValues, f.rowCount, f.sizeBytes,
        f.stats.toSeq.sortBy(_._1)
          .map { case (c, s) => s"$c:[${s.min},${s.max}]" }.mkString(", ")))
      .toDF("file_path", "partition", "record_count", "file_size_in_bytes",
        "column_bounds")
  }

  /** Iceberg's `.all_files`: every data file referenced by ANY retained
    * snapshot — the expiry/debug view of storage, where `.files` shows
    * only the live set. One row per distinct path with the snapshots
    * that reference it; driver-side over manifest-scale metadata. */
  def allFilesMetadata(): DataFrame = {
    import spark.implicits._
    meta.snapshots.flatMap(s => s.dataFiles.map(f => (f, s.id)))
      .groupBy(_._1.path).toSeq
      .map { case (path, refs) =>
        val f = refs.head._1
        (path, f.rowCount, f.sizeBytes, f.dataSequenceNumber,
          refs.map(_._2).distinct.sorted.mkString(","))
      }.sortBy(_._1)
      .toDF("file_path", "record_count", "file_size_in_bytes",
        "data_sequence_number", "referencing_snapshot_ids")
  }

  /** Iceberg's `.manifests`: one row per snapshot manifest — the
    * metadata files themselves (path, size, owning snapshot, list
    * sizes). Snapshots committed before the manifest model show an
    * empty path. */
  def manifestsMetadata(): DataFrame = {
    import spark.implicits._
    meta.snapshots.sortBy(_.id).map { s =>
      val p = s.manifestPath.getOrElse("")
      val len =
        if (p.isEmpty) 0L
        else scala.util.Try(Files.size(java.nio.file.Paths.get(p))).getOrElse(0L)
      (p, len, s.id, s.dataFiles.size.toLong, s.deleteFiles.size.toLong)
    }.toDF("path", "length", "snapshot_id", "data_file_count",
      "delete_file_count")
  }

  /** Per-partition rollup of the live file set (Iceberg's `.partitions`
    * metadata table): one row per distinct recorded partition-value
    * tuple with file/row/byte counts. Driver-side over file metadata —
    * manifest scale, no data I/O; with M36 transforms the partition
    * column shows transform FIELD values (`ts_month=2026-01`). Files
    * with no recorded values (pre-evolution, unrenderable) group under
    * the empty tuple. */
  def partitionsMetadata(): DataFrame = {
    import spark.implicits._
    dataFiles.groupBy(_.partitionValues).toSeq
      .map { case (pv, fs) =>
        (pv.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/"),
          fs.size.toLong, fs.map(_.rowCount).sum, fs.map(_.sizeBytes).sum)
      }.sortBy(_._1)
      .toDF("partition", "file_count", "record_count", "total_size_in_bytes")
  }

  /** Iceberg's `.metadata_log_entries`: one row per metadata version
    * file still on disk — the commit trail of the table pointer, the
    * debugging view for "what metadata was current when". Driver-side
    * directory listing, O(versions). */
  def metadataLogMetadata(): DataFrame = {
    import spark.implicits._
    val dir = Meta.metadataDir(location)
    val VFile = """v(\d+)\.metadata\.json""".r
    val cur = Meta.currentVersion(location).getOrElse(-1)
    val rows =
      if (!Files.isDirectory(dir)) Nil
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.flatMap { p =>
          p.getFileName.toString match {
            case VFile(n) => Some((n.toInt,
              Files.getLastModifiedTime(p).toMillis, p.toString))
            case _ => None
          }
        }.toList
        finally s.close()
      }
    rows.sortBy(_._1)
      .map { case (v, ts, path) =>
        (v, new java.sql.Timestamp(ts), path, v == cur) }
      .toDF("version", "timestamp", "metadata_file", "is_current")
  }

  /** Canonical `SHOW CREATE TABLE` rendering: a statement the dispatcher
    * itself accepts (round-trippable), including the partition-transform
    * spec and table properties. */
  def showCreate(): String = {
    val cols = schema.fields
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    // canonical transform spellings (bucket(4,id), not the user's
    // whitespace) — falling back to the raw spec if the schema drifted
    // under it, so SHOW CREATE TABLE never throws on a weird table
    val specs = scala.util.Try(transforms.map(_.spec))
      .getOrElse(meta.partitionCols)
    val part =
      if (specs.isEmpty) ""
      else specs.mkString(" PARTITIONED BY (", ", ", ")")
    // standard SQL quote-doubling, mirrored by LakeSql.parseProps — a
    // value containing ' must not break the round-trip contract
    def q(s: String) = s"'${s.replace("'", "''")}'"
    val props =
      if (meta.props.isEmpty) ""
      else meta.props.toSeq.sorted
        .map { case (k, v) => s"${q(k)}=${q(v)}" }
        .mkString(" TBLPROPERTIES (", ", ", ")")
    s"CREATE TABLE ${meta.name} ($cols)$part$props"
  }

  /** Snapshot log projection (DESCRIBE HISTORY analogue): one row per
    * snapshot with id, commit time, operation, sequence number and the
    * operation summary. */
  def history(): DataFrame = {
    import spark.implicits._
    meta.snapshots.sortBy(_.id)
      .map(s => (s.id, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.sequenceNumber, s.summary.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString(", ")))
      .toDF("snapshot_id", "committed_at", "operation", "sequence_number", "summary")
  }

  /** Iceberg's `refs` metadata table: every named ref — `main`, each
    * branch, each tag — with its kind and head snapshot id. The one
    * place an operator sees the whole ref landscape (what WAP branches
    * exist, what tags pin which snapshots) without reading any data. */
  def refsMetadata(): DataFrame = {
    import spark.implicits._
    val rows =
      Seq(("main", "BRANCH", meta.currentSnapshotId)) ++
        meta.branches.toSeq.sorted.map { case (n, id) => (n, "BRANCH", id) } ++
        meta.tags.toSeq.sorted.map { case (n, id) => (n, "TAG", id) }
    rows.toDF("name", "type", "snapshot_id")
  }

  /** Live rows of an explicit data-file subset (compaction reads only the
    * rewrite set; deletes still applied). */
  private[lake] def readLiveFiles(
      files: Seq[DataFileMeta], withRowIds: Boolean): DataFrame =
    readLiveFiles(files, withRowIds, deleteFiles)

  private[lake] def readLiveFiles(
      files: Seq[DataFileMeta], withRowIds: Boolean,
      deletes: Seq[DeleteFileMeta]): DataFrame =
    readLiveFilesLifted(remapFileKeys(files), withRowIds, remapDeleteKeys(deletes))

  // M48: snapshot-level callers (time travel, incremental, tags) hand
  // in un-lifted lists; re-lifting the accessors' output is a no-op
  private def readLiveFilesLifted(
      files: Seq[DataFileMeta], withRowIds: Boolean,
      deletes: Seq[DeleteFileMeta]): DataFrame = {
    if (files.isEmpty) {
      val extra = Seq(StructField(FileCol, StringType), StructField(PosCol, LongType)) ++
        (if (withRowIds) Seq(StructField(RowIdCol, LongType)) else Nil)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], StructType(schema.fields ++ extra))
    }
    val base =
      if (!withRowIds) scanFiles(files, withRowIdField = false)
      else {
        val (expl, impl) = files.partition(_.explicitRowIds)
        val parts = Seq(
          if (impl.isEmpty) None
          else Some(scanFiles(impl, withRowIdField = false)
            .join(broadcast(fileAttrs(impl)), col(FileCol) === col(AttrPath), "left")
            .withColumn(RowIdCol, col(AttrFirst) + col(PosCol))
            .drop(AttrPath, AttrSeq, AttrFirst)),
          if (expl.isEmpty) None
          else Some(scanFiles(expl, withRowIdField = true))
        ).flatten
        parts.reduce(_ unionByName _)
      }
    applyInitialDefaults(applyDeletes(base, files, deletes), files)
  }

  /** v3 initial-defaults on the read path (M46): rows from data files
    * that PREDATE a defaulted column (dataSequenceNumber < addedSeq)
    * read the column's initial-default instead of the parquet
    * projection's null-fill; rows from later files keep their physical
    * value — an explicitly-written NULL stays NULL. The per-row decision
    * rides the same broadcast file-attribute join the lineage path uses
    * (O(file-count) rows), and the whole step is skipped unless some
    * scanned file actually predates some default — the steady state
    * after a compaction materializes the defaults physically. */
  private def applyInitialDefaults(
      df: DataFrame, files: Seq[DataFileMeta]): DataFrame = {
    val defs = meta.columnDefaults.filter(_.initial.isDefined)
    val needy = defs.filter(d =>
      files.exists(_.dataSequenceNumber < d.addedSeq))
    if (needy.isEmpty) return df
    val attrs = fileAttrs(files).select(col(AttrPath), col(AttrSeq))
    val withSeq = df.join(broadcast(attrs), col(FileCol) === col(AttrPath), "left")
    val filled = needy.foldLeft(withSeq) { (acc, d) =>
      val dt = schema(d.colName).dataType
      acc.withColumn(d.colName,
        when(col(AttrSeq) < d.addedSeq, lit(d.initial.get).cast(dt))
          .otherwise(col(d.colName)))
    }
    filled.drop(AttrPath, AttrSeq)
  }

  /** (file_path, pos) rows of position-delete and DV files (non-empty),
    * DV bitmaps decoded executor-side; lazy, explicit schemas. */
  private def positionPairs(fs: Seq[DeleteFileMeta]): DataFrame = {
    val classic = fs.filter(_.kind == "position")
    val dvs = fs.filter(_.kind == "dv")
    Seq(
      if (classic.isEmpty) None
      else Some(scanDeletes(spark, DeleteSchema, classic)),
      if (dvs.isEmpty) None
      else Some {
        import spark.implicits._
        scanDeletes(spark, DvSchema, dvs)
          .select(col("file_path"), col("dv")).as[(String, Array[Byte])]
          .flatMap { case (fp, bytes) =>
            DeleteVectors.decode(bytes).iterator.map(fp -> _) }
          .toDF("file_path", "pos")
      }).flatten.reduce(_ unionByName _)
  }

  /** Whether `fs` fit `spark.graft.dv.broadcastBudgetBytes` (default
    * 64 MiB) by on-disk parquet size — a metadata-scale stat call per
    * file, zero data I/O. Fails SAFE: a file whose size cannot be read
    * counts as over budget (a 0-byte default would silently restore the
    * unconditional broadcast this gate exists to drop — VERDICT r15 wrong
    * #2: v2 tables, the upgrade path's starting state, cannot write DVs,
    * so a large MoR delete wave before compaction forced a multi-GB
    * broadcast). */
  private def withinDeleteBudget(fs: Seq[DeleteFileMeta]): Boolean = {
    val budget = spark.conf
      .getOption("spark.graft.dv.broadcastBudgetBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    val sizes = fs.map(f =>
      scala.util.Try(Files.size(java.nio.file.Paths.get(f.path))).toOption)
    sizes.forall(_.isDefined) && sizes.flatten.sum <= budget
  }

  /** MoR delete apply. Building it launches no Spark job: delete files
    * are read on the driver with parquet-hadoop, or scanned lazily with
    * explicit schemas, and every broadcast is gated by one budget rule
    * ([[withinDeleteBudget]]). */
  private def applyDeletes(
      base: DataFrame, files: Seq[DataFileMeta],
      deletes: Seq[DeleteFileMeta]): DataFrame = {
    // No sequence scoping needed for position deletes or DVs: data
    // files are immutable and uniquely pathed, so a (file, pos) tuple
    // can only ever hit the file it was written against.
    val posDeletes = deletes.filter(_.kind == "position")
    val dvDeletes = deletes.filter(_.kind == "dv")
    val afterPos =
      if (posDeletes.isEmpty && dvDeletes.isEmpty) base
      else if (withinDeleteBudget(posDeletes ++ dvDeletes)) {
        // Compact path: classic position rows fold per data file into
        // the same bitmaps DVs store, so both kinds ship as ~1-2 bytes
        // per deleted position in one broadcast variable, tested by a
        // per-task decode + binary search — never a row per position.
        // Only rows naming a scanned file ship: the scan's FileCol equals
        // the file's metadata path (the invariant fileAttrs joins on).
        val bc = spark.sparkContext.broadcast(DeleteVectors.load(
          spark.sessionState.newHadoopConf(),
          posDeletes.map(_.path), dvDeletes.map(_.path), files.map(_.path).toSet))
        val member = new DeleteVectors.Membership(bc)
        val deleted = udf((fp: String, pos: Long) => member.contains(fp, pos))
        base.filter(!deleted(col(FileCol), col(PosCol)))
      } else {
        // Past the budget: one anti-join over the (file, pos) pairs of
        // both kinds, DVs decoded executor-side; the join strategy is
        // left to AQE's runtime stats (a shuffle join if even the pairs
        // are huge).
        val del = positionPairs(posDeletes ++ dvDeletes)
        base.join(del,
          base(FileCol) === del("file_path") && base(PosCol) === del("pos"),
          "left_anti")
      }
    val eqDeletes = deletes.filter(_.kind == "equality")
    if (eqDeletes.isEmpty) afterPos
    else {
      // Strictly-older rule (Iceberg equality-delete semantics): the
      // delete hides only rows whose data file predates the delete commit.
      // One anti-join per equality-COLUMN-SET, not per delete file
      // (VERDICT r3 next #8): all files sharing a column set union their
      // rows tagged with their commit's sequence number, reduced to the
      // max sequence per key — a delete at a higher sequence hides every
      // data file a lower one did, so per-key max loses nothing — and a
      // long DML history costs one broadcast join instead of N. The
      // broadcast hints (delete side and the file-attribute side) follow
      // the same budget; past it AQE picks every join of this branch.
      val hint: DataFrame => DataFrame =
        if (withinDeleteBudget(eqDeletes)) broadcast(_) else identity
      val hadoopConf = spark.sessionState.newHadoopConf()
      val withSeq = afterPos
        .join(hint(fileAttrs(files)), afterPos(FileCol) === col(AttrPath), "left")
      val cleaned = eqDeletes.groupBy(_.equalityCols).toSeq
        .sortBy(_._1.mkString(","))
        .foldLeft(withSeq) { case (df, (cols, efs)) =>
          val del = efs.map { ef =>
            // M48: the delete parquet carries the names/types of ITS
            // commit's epoch — select physically, surface currently.
            // The scan schema is the file's own footer schema (the
            // values may have been written in another type than the
            // column's), read on the driver instead of inferred by a job.
            val sel = cols.map { c =>
              val cur = schema(c)
              val ph = physicalField(cur, ef.dataSequenceNumber)
              val raw = col(ph.name)
              (if (ph.dataType == cur.dataType) raw
               else raw.cast(cur.dataType)).as(c)
            }
            val fileSchema = StatsPruning.readFooter(hadoopConf,
              java.nio.file.Paths.get(ef.path), new StructType()).schema
            scanDeletes(spark, fileSchema, Seq(ef)).select(sel: _*)
              .withColumn(DelSeqCol, lit(ef.dataSequenceNumber))
          }.reduce(_ unionByName _)
            .groupBy(cols.map(col): _*)
            .agg(max(col(DelSeqCol)).as(DelSeqCol))
          val cond = cols.map(c => df(c) <=> del(c)).reduce(_ && _) &&
            df(AttrSeq) < del(DelSeqCol)
          df.join(hint(del), cond, "left_anti")
        }
      cleaned.drop(AttrPath, AttrSeq, AttrFirst)
    }
  }

  // ----------------------------------------------------------------- write

  /** Physically write `df` as immutable parquet data files under a fresh
    * commit directory; returns their metadata (no snapshot commit).
    * Partition columns are mirrored to `__p_<col>=` dirs and kept in-file.
    *
    * @param firstRowId   starting id for implicit row-id assignment
    *                     (ignored when `withRowIdCol`)
    * @param seq          sequence number of the committing snapshot
    * @param withRowIdCol `df` carries `_row_id` to persist as a physical
    *                     column (rewrites preserving lineage)
    */
  /** @param layoutManaged the caller already arranged the row layout
    *        (compaction's repartition/sort-order/zorder): skip BOTH the
    *        hash-distribution re-cluster and the write.sort-order sort —
    *        either would silently destroy the explicit clustering
    *        (review r7: a zorder rewrite re-sorted by the property). */
  private[lake] def writeDataFiles(
      df: DataFrame,
      firstRowId: Long,
      seq: Long,
      withRowIdCol: Boolean = false,
      layoutManaged: Boolean = false): Seq[DataFileMeta] = {
    val commitDir = location.resolve("data").resolve(UUID.randomUUID().toString)
    val cols = schema.fieldNames ++ (if (withRowIdCol) Seq(RowIdCol) else Nil)
    val partCopies = transforms.map(t => PartPrefix + t.fieldName)
    val out = transforms.foldLeft(df.select(cols.map(col): _*)) {
      (d, t) => d.withColumn(PartPrefix + t.fieldName,
        t.writeColumn(col(t.sourceCol)))
    }
    // Iceberg's write.distribution-mode, default hash for partitioned
    // tables: cluster rows by partition value before the fan-out write,
    // so file count is bounded by POPULATED PARTITIONS, not
    // tasks × partitions — without it a 32-task append into a
    // months×bucket spec writes up to 32× the files (the small-files
    // problem at 100 TB). `none` opts out (tiny appends that shouldn't
    // pay a shuffle).
    val clustered =
      if (!layoutManaged && partCopies.nonEmpty &&
          meta.props.getOrElse("write.distribution-mode", "hash") != "none")
        out.repartition(partCopies.map(col): _*)
      else out
    // write.sort-order (Iceberg's write-time sort): sort WITHIN each
    // task before writing so data files carry tight footer bounds on the
    // listed columns from day one — stats skipping works without waiting
    // for a compaction pass. Task-local (no extra shuffle); the
    // `sort-order` compaction option remains the global-clustering tool.
    // Each item is `name [asc|desc] [nulls first|last]` as canonicalized
    // by the WRITE ORDERED BY DDL; defaults mirror Iceberg (and Spark):
    // asc → nulls first, desc → nulls last. Names resolve
    // case-insensitively like the rest of the SQL surface.
    val sorted = meta.props.get("write.sort-order") match {
      case Some(order) if !layoutManaged && order.trim.nonEmpty =>
        val sortCols = order.split(",").map(_.trim).filter(_.nonEmpty)
          .flatMap { item =>
            val toks = item.split("\\s+")
            schema.fieldNames.find(_.equalsIgnoreCase(toks.head)).map { n =>
              toks.tail.map(_.toLowerCase).mkString(" ") match {
                case "desc" | "desc nulls last" => col(n).desc_nulls_last
                case "desc nulls first" => col(n).desc_nulls_first
                case "asc nulls last" | "nulls last" => col(n).asc_nulls_last
                case _ => col(n).asc_nulls_first // "", asc, asc nulls first
              }
            }
          }
        if (sortCols.isEmpty) clustered // unknown names: ignore, don't fail the write
        else clustered.sortWithinPartitions(sortCols.toSeq: _*)
      case _ => clustered
    }
    val writer = bloomFilterConf.foldLeft(sorted.write.mode("append")) {
      case (w, (k, v)) => w.option(k, v) // M52 bloom filters
    }
    (if (partCopies.nonEmpty) writer.partitionBy(partCopies: _*) else writer)
      .parquet(commitDir.toString)

    // row counts and file-skipping bounds from the footers just written:
    // one driver-side open per file (bounded by this commit's file count),
    // no Spark job and no data read
    val hadoopConf = spark.sessionState.newHadoopConf()
    val footers = listParquetFiles(commitDir).sorted
      .map(p => p -> StatsPruning.countAndStats(hadoopConf, p, schema))
    // empty partitions can leave zero-row part files — drop them physically
    val (kept, empty) = footers.partition(_._2._1 > 0)
    empty.foreach(e => Files.deleteIfExists(e._1))
    var rowId = firstRowId
    kept.map { case (p, (n, stats)) =>
      val m = DataFileMeta(
        path = p.toString,
        partitionValues = partitionValuesFromPath(p),
        rowCount = n,
        sizeBytes = Files.size(p),
        stats = stats,
        firstRowId = if (withRowIdCol) -1L else rowId,
        explicitRowIds = withRowIdCol,
        dataSequenceNumber = seq)
      if (!withRowIdCol) rowId += n
      m
    }
  }

  /** Table property selecting the position-delete representation:
    * classic 2-column parquet (`position`, default) or v3 deletion
    * vectors (`dv`, M37). DV requires format-version 3 — a v2 reader has
    * no notion of them. One definition gates BOTH the dispatcher write
    * path and the native DML writers (review r7). */
  private[lake] def validatedDeleteFormat: String = {
    val f = meta.props.getOrElse("write.delete.format", "position")
    if (f == "dv" && meta.formatVersion < 3)
      throw new IllegalStateException(
        s"${meta.name}: write.delete.format=dv requires format-version 3 " +
          "(deletion vectors are a v3 feature; upgrade first)")
    f
  }

  /** Write a position-delete file set; returns None (and leaves no orphan
    * files) when the predicate matched nothing. One data pass: the write,
    * then each file's row count from its footer on the driver. Routes to
    * deletion vectors when the table asks for them
    * ([[validatedDeleteFormat]]). */
  private def writeDeleteFiles(
      coords: DataFrame, seq: Long): Option[(Seq[DeleteFileMeta], Long)] = {
    if (validatedDeleteFormat == "dv") return writeDeleteVectors(coords, seq)
    val hadoopConf = spark.sessionState.newHadoopConf()
    writeDeleteSet(coords.repartition(deleteFanOut, col("file_path")), "position", seq)(
      StatsPruning.rowCount(hadoopConf, _))
  }

  /** Tasks a delete write fans out to, by hash of the target data file:
    * all rows of one data file land in one task, the output file count is
    * bounded by the table's file count, and no single-task coalesce(1)
    * funnels the write (VERDICT r1 #5). */
  private def deleteFanOut: Int = math.max(1, math.min(dataFiles.size / 8, 128))

  /** Writes `rows` as one `kind` delete-file set under `deletes/`, then
    * counts each file's deleted rows with `count` on the driver. Zero-row
    * part files (empty shuffle partitions) are removed so the deletes dir
    * does not accrete them; a set with no deleted row is removed whole
    * (None). Returns the kept files' metadata and the total. */
  private def writeDeleteSet(rows: DataFrame, kind: String, seq: Long)(
      count: Path => Long): Option[(Seq[DeleteFileMeta], Long)] = {
    val delDir = location.resolve("deletes")
    Files.createDirectories(delDir)
    val delPath = delDir.resolve(
      (if (kind == "dv") "dv-" else "") + UUID.randomUUID().toString)
    rows.write.parquet(delPath.toString)
    val counted = listParquetFiles(delPath).sorted.map(p => p -> count(p))
    val total = counted.map(_._2).sum
    if (total == 0) { deleteRecursively(delPath); return None }
    val (kept, empty) = counted.partition(_._2 > 0)
    empty.foreach(e => Files.deleteIfExists(e._1))
    Some((kept.map { case (p, n) =>
      DeleteFileMeta(p.toString, kind, n, dataSequenceNumber = seq) }, total))
  }

  /** v3 deletion vectors (M37): one bitmap row per targeted data file.
    * The shuffle is the same grouping-by-target-file the classic path
    * pays; the bitmap build is executor-side per group (memory bounded
    * by one data file's deleted positions), and what lands on disk — and
    * later in the MoR anti-join broadcast — is delta-varint bytes
    * instead of a parquet row per position. */
  private def writeDeleteVectors(
      coords: DataFrame, seq: Long): Option[(Seq[DeleteFileMeta], Long)] = {
    import spark.implicits._
    // same bounded fan-out as the classic path (not the session's full
    // shuffle-partition count — review r7); rows for one data file
    // co-locate by the hash partitioning, grouped in-memory per task
    // (memory bounded by the task's deleted positions, the same bound
    // the sort below needs anyway)
    val dvs = coords.select(col("file_path"), col("pos")).as[(String, Long)]
      .repartition(deleteFanOut, col("file_path"))
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
        it.foreach { case (fp, p) =>
          acc.getOrElseUpdate(fp,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += p
        }
        acc.iterator.map { case (fp, ps) =>
          val (bytes, distinct) = DeleteVectors.encodeWithCount(ps.toArray)
          (fp, bytes, distinct)
        }
      }
      .toDF("file_path", "dv", "cnt")
    // a DV file's deleted rows are the sum of its `cnt` column, read on
    // the driver (one row per targeted data file)
    val hadoopConf = spark.sessionState.newHadoopConf()
    writeDeleteSet(dvs, "dv", seq)(p => DeleteVectors.deletedCount(hadoopConf, p.toString))
  }

  /** Consolidate this table's live position-scoped delete files
    * (classic parquet AND deletion vectors) into one freshly-written set
    * in the table's CURRENT `write.delete.format` — Iceberg's
    * `rewrite_position_delete_files` (M37 companion). A long DML history
    * leaves one delete file (or DV row-set) per commit; every MoR scan
    * pays a read per file, so maintenance folds them into ~one. Also the
    * migration lever: flip the property to `dv`, consolidate, and a
    * position-parquet history becomes bitmaps. Equality deletes are
    * untouched (their sequence scoping is per-commit and must survive).
    * Data files are untouched; prior snapshots still own the old delete
    * files until expiry GCs them. */
  private[lake] def consolidatePositionDeletes(): (LakeTable, Int, Int) = {
    val olds = deleteFiles.filter(f => f.kind == "position" || f.kind == "dv")
    // short-circuit only when there is nothing to fold AND nothing to
    // migrate: a single file in the WRONG representation must still
    // rewrite, or the documented format-flip migration silently no-ops
    // (review r7)
    val targetKind =
      if (validatedDeleteFormat == "dv") "dv" else "position"
    if (olds.isEmpty ||
        (olds.size == 1 && olds.head.kind == targetKind)) return (this, 0, 0)
    val seq = nextSeq
    val written = writeDeleteFiles(positionPairs(olds), seq)
      .map(_._1).getOrElse(Nil)
    val eq = deleteFiles.filter(_.kind == "equality")
    val snap = newSnapshot("replace", dataFiles, eq ++ written,
      Map("consolidated-delete-files" -> olds.size.toString,
        "added-delete-files" -> written.size.toString))
    (commitSnapshot(snap), olds.size, written.size)
  }

  /** Snapshot constructor stamping the table's injected clock — every
    * commit path (DML, append, compaction) must go through this so
    * snapshot timestamps are monotone under a fixture clock and
    * expire_snapshots cutoffs classify them consistently. */
  private[lake] def newSnapshot(
      op: String,
      data: Seq[DataFileMeta],
      deletes: Seq[DeleteFileMeta],
      summary: Map[String, String] = Map.empty): Snapshot = {
    val id = meta.snapshots.map(_.id).foldLeft(0L)(math.max) + 1
    // Iceberg's standard snapshot-summary keys (M61), auto-stamped from
    // the parent diff at commit time: the metadata-scale answer to "what
    // did this commit do" — at 100 TB the monitoring question "how many
    // records did tonight's load add" must never cost a table scan.
    // Computed from file metadata the commit already holds (O(files of
    // this commit's lists), zero I/O). Caller-provided entries OVERRIDE
    // the auto values: DML paths pass row-exact figures (e.g.
    // deleted-records counted from matched rows, which file-level diffs
    // can't see under MoR).
    val pData = currentSnapshot.map(_.dataFiles).getOrElse(Nil)
    val pPaths = pData.map(_.path).toSet
    val paths = data.map(_.path).toSet
    val addedF = data.filterNot(f => pPaths.contains(f.path))
    val removedF = pData.filterNot(f => paths.contains(f.path))
    val pDelPaths =
      currentSnapshot.map(_.deleteFiles.map(_.path).toSet).getOrElse(Set.empty)
    val auto = Map(
      "added-data-files" -> addedF.size,
      "deleted-data-files" -> removedF.size,
      "added-records" -> addedF.map(_.rowCount).sum,
      // Iceberg's SnapshotSummary spells this "deleted-records"; DML
      // paths stamp the same key with row-exact counts and the
      // `auto ++ summary` override below lets theirs win.
      "deleted-records" -> removedF.map(_.rowCount).sum,
      "added-files-size" -> addedF.map(_.sizeBytes).sum,
      "added-delete-files" -> deletes.count(d => !pDelPaths.contains(d.path)),
      "total-data-files" -> data.size,
      "total-delete-files" -> deletes.size,
      "total-records" -> data.map(_.rowCount).sum,
      "total-files-size" -> data.map(_.sizeBytes).sum
    ).map { case (k, v) => k -> v.toString }
    // parent = the head this commit builds on — branch-aware via
    // currentSnapshot, so branch lineages thread their own chain
    Snapshot(id, clock(), op, data, deletes, auto ++ summary,
      sequenceNumber = nextSeq,
      parentId = currentSnapshot.map(_.id).getOrElse(-1L))
  }

  private[lake] def commitSnapshot(
      snap: Snapshot,
      transform: TableMetadata => TableMetadata = identity): LakeTable = {
    val base = transform(meta).copy(
      snapshots = meta.snapshots :+ snap,
      lastSequenceNumber = snap.sequenceNumber)
    // a branch handle's commit advances the BRANCH pointer; main's
    // current snapshot stays put (write-audit-publish isolation)
    val m = branch match {
      case None => base.copy(currentSnapshotId = snap.id)
      case Some(b) => base.copy(branches = base.branches + (b -> snap.id))
    }
    committed(Meta.commit(location, m, loadedVersion))
  }

  /** Next handle after a successful commit: it owns the version the
    * commit just created, so chained operations keep CAS-ing forward. */
  private def committed(m: TableMetadata): LakeTable =
    new LakeTable(spark, location, m, clock,
      loadedVersion.map(_ + 1).orElse(Meta.currentVersion(location)), branch)

  /** Fresh handle at the table's current on-disk state (same clock).
    * NOTE (r6): DSv2 row-level writers deliberately do NOT reload before
    * committing — they commit through the analysis-time handle, so a
    * table that advanced between analysis and execution surfaces
    * [[CommitConflictException]] instead of silently applying position
    * deletes computed against row positions that no longer exist
    * (LakeRowLevelOps commit path). reloaded() is for callers that WANT
    * latest-state semantics: catalog lookups, retry loops, maintenance. */
  def reloaded(): LakeTable =
    new LakeTable(spark, location,
      Meta.load(location).getOrElse(
        throw new IllegalStateException(s"table at $location no longer exists")),
      clock, Meta.currentVersion(location), branch)

  /** INSERT INTO / append: new snapshot adding data files (S4).
    * `extraProps` lands in the same atomic commit as the data — used by
    * the streaming sink to record its batch id exactly-once. */
  /** Shared rebase-on-conflict commit loop for append-class writes
    * (append, upsertByKey — Iceberg's retry semantics): the written
    * data files don't depend on table state — lineage ids and sequence
    * numbers are metadata stamps, not file contents — so a concurrent
    * commit only requires re-stamping them from a fresh handle and
    * retrying the (ms-scale) metadata commit. Without this, a busy
    * table starves slow appenders: any writer landing inside the
    * data-write window (100s of ms) would force the whole write to be
    * redone (observed as streaming-sink livelock under tag churn). If
    * every attempt conflicts, the written files are left for
    * remove_orphan_files (whose age cutoff protects in-flight writers).
    * Each attempt gets (fresh handle, re-stamped files, rowId start,
    * sequence number). */
  private def rebaseCommit(written0: Seq[DataFileMeta], attempts0: Int = 8)(
      attempt: (LakeTable, Seq[DataFileMeta], Long, Long) => LakeTable): LakeTable = {
    var h = this
    var attempts = attempts0
    while (true) {
      val start =
        if (h.meta.nextRowId >= 0) h.meta.nextRowId else h.meta.computedNextRowId
      val seq = h.nextSeq
      var rid = start
      val files = written0.map { f =>
        val m = f.copy(firstRowId = rid, dataSequenceNumber = seq)
        rid += f.rowCount
        m
      }
      // M48 rebase fence: the written parquet encodes THIS handle's
      // schema epoch. If a rename/widen landed since, re-stamping would
      // give those files a post-watermark sequence — readers would
      // derive the NEW physical schema for files that carry the old one.
      // Unlike lineage/sequence stamps, the physical schema is file
      // CONTENT; it cannot be rebased, so the write must be redone.
      if (h.meta.schemaChanges.count(_.kind != "drop") >
          meta.schemaChanges.count(_.kind != "drop"))
        throw new CommitConflictException(
          s"table ${meta.name}: a schema rename/widen landed after this " +
            "handle's data was written — reload and rewrite the batch " +
            "under the current schema")
      try return attempt(h, files, start, seq)
      catch {
        case e: CommitConflictException =>
          attempts -= 1
          if (attempts <= 0) throw e
          h = h.reloaded()
      }
    }
    sys.error("unreachable")
  }

  def append(df: DataFrame, extraProps: Map[String, String] = Map.empty): LakeTable = {
    // v3 write-defaults (M46): a writer omitting a defaulted column
    // lands the default PHYSICALLY (write-time fill, Iceberg semantics —
    // later SET DEFAULT changes must not rewrite these rows)
    val conformed = meta.columnDefaults.foldLeft(df) { (d, cd) =>
      if (cd.write.isDefined && !d.columns.contains(cd.colName))
        d.withColumn(cd.colName,
          lit(cd.write.get).cast(schema(cd.colName).dataType))
      else d
    }
    // M48: the PHYSICAL types written must match the table schema — the
    // epoch log keys on commit sequence, so a post-widen append of a
    // narrow-typed frame would record a file whose epoch claims the wide
    // type it doesn't have. Cast and order columns to the schema when
    // they're all present (a frame missing columns still fails in the
    // writer, as before).
    val typed =
      if (schema.fields.forall(f => conformed.columns.contains(f.name)))
        conformed.select(schema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
      else conformed
    val written0 = writeDataFiles(typed, 0L, 0L) // stamps re-based per attempt
    val written = written0.map(_.rowCount).sum
    rebaseCommit(written0) { (h, files, start, _) =>
      h.commitSnapshot(
        h.newSnapshot("append", h.dataFiles ++ files, h.deleteFiles,
          Map("added-data-files" -> files.size.toString,
            "added-records" -> written.toString)),
        m => {
          val m2 = if (m.nextRowId >= 0) m.copy(nextRowId = start + written) else m
          if (extraProps.isEmpty) m2 else m2.copy(props = m2.props ++ extraProps)
        })
    }
  }

  /** Iceberg's `add_files`: adopt EXISTING parquet files into the table
    * METADATA-ONLY — the zero-copy onboarding lever. No row is read and
    * no byte is copied: per-file row counts and column bounds come from
    * parquet FOOTERS (so stats-based skipping works on adopted files
    * from the first query), v3 row-id ranges are minted at commit, and
    * the commit is an ordinary append snapshot (rebase-on-conflict).
    * This is how a 100 TB directory of historical parquet becomes a
    * governed lake table in one metadata commit instead of a rewrite.
    *
    * Adopted files record NO partition values (their on-disk layout is
    * external); partition pruning is conservative over them and footer
    * stats carry the skipping until a `rewrite_data_files` re-localizes.
    * Ownership caveat (same as Iceberg's add_files): the files live
    * outside the table directory, so DROP TABLE, remove_orphan_files
    * and expire_snapshots never delete them. Schema gate: every table
    * column must exist in EACH file with the identical type — checked
    * per-file from its own footer, because a multi-file add is not a
    * union (a sampled-schema gate would let one incompatible file
    * through, surfacing later as silent NULLs or a reader crash).
    * Re-adopting a path already referenced is rejected (Iceberg's
    * check_duplicate_files default) — the retry-looking second CALL
    * would otherwise silently double every row. */
  def addFiles(paths: Seq[Path]): LakeTable = {
    require(paths.nonEmpty, "add_files: no files given")
    paths.foreach(p => require(Files.isRegularFile(p),
      s"add_files: not a file: $p"))
    val dupIn = paths.map(_.toString).groupBy(identity).collect {
      case (p, ps) if ps.size > 1 => p
    }
    require(dupIn.isEmpty, s"add_files: duplicate input file(s): " +
      dupIn.mkString(", "))
    val referenced = dataFiles.map(_.path).toSet
    val already = paths.map(_.toString).filter(referenced)
    require(already.isEmpty, "add_files: file(s) already referenced by " +
      s"${meta.name} (re-adoption would duplicate rows): " +
      already.mkString(", "))
    val hadoopConf = spark.sessionState.newHadoopConf()
    val metas0 = paths.map { p =>
      val info = StatsPruning.readFooter(hadoopConf, p, schema)
      schema.fields.foreach { f =>
        val g = info.schema.fields.find(_.name == f.name).getOrElse(
          throw new IllegalArgumentException(
            s"add_files: column ${f.name} missing from $p"))
        require(g.dataType == f.dataType,
          s"add_files: column ${f.name} is ${g.dataType.simpleString} in " +
            s"$p but ${f.dataType.simpleString} on the table")
      }
      DataFileMeta(
        path = p.toString,
        rowCount = info.rowCount,
        sizeBytes = Files.size(p),
        stats = info.stats)
    }
    val added = metas0.map(_.rowCount).sum
    rebaseCommit(metas0) { (h, files, start, _) =>
      h.commitSnapshot(
        h.newSnapshot("append", h.dataFiles ++ files, h.deleteFiles,
          Map("added-data-files" -> files.size.toString,
            "added-records" -> added.toString,
            "adopted" -> "true")),
        m => if (m.nextRowId >= 0) m.copy(nextRowId = start + added) else m)
    }
  }

  /** INSERT OVERWRITE: one commit replacing the table's content with
    * `df` — old files stay owned by prior snapshots (time travel works;
    * expiry GCs them later). */
  def overwrite(df: DataFrame): LakeTable = {
    val start = if (meta.nextRowId >= 0) meta.nextRowId else meta.computedNextRowId
    val files = writeDataFiles(df, start, nextSeq)
    val written = files.map(_.rowCount).sum
    commitSnapshot(
      newSnapshot("overwrite", files, Nil,
        Map("added-records" -> written.toString,
          "replaced-data-files" -> dataFiles.size.toString)),
      m => if (m.nextRowId >= 0) m.copy(nextRowId = start + written) else m)
  }

  /** DYNAMIC partition overwrite (Iceberg's
    * `spark.sql.sources.partitionOverwriteMode=dynamic` semantics):
    * replace ONLY the partitions the incoming data touches — the
    * backfill shape at 100 TB, where recomputing one day must not
    * vaporize the other 99%. The incoming rows are written first; the
    * distinct partition tuples they actually landed in (recorded on the
    * new files' metadata — same rendering as pruning, by construction)
    * select which existing files drop, all in ONE commit. Files recorded
    * under an EVOLVED spec have different partition keys and never match
    * a new tuple — each is kept only when some shared identity key
    * PROVES it lives in an untouched partition; otherwise the overwrite
    * fails loudly with a rewrite_data_files hint, because silently
    * keeping it would leave stale old-spec rows coexisting with the new
    * rows for the same logical partition (Iceberg likewise validates
    * replaced partitions across specs; ADVICE r8). Unpartitioned tables
    * degrade to the static whole-table overwrite. */
  def overwriteDynamic(df: DataFrame): LakeTable = {
    if (transforms.isEmpty) return overwrite(df)
    val start = if (meta.nextRowId >= 0) meta.nextRowId else meta.computedNextRowId
    val files = writeDataFiles(df, start, nextSeq)
    if (files.isEmpty) return this // no incoming rows → no partition replaced
    val written = files.map(_.rowCount).sum
    val touched = files.map(_.partitionValues).toSet
    val (replaced, kept) = dataFiles.partition(f => touched.contains(f.partitionValues))
    val curKeys = transforms.map(_.fieldName).toSet
    // disjointness proof for an old-spec/adopted file: some recorded key
    // it SHARES with the current spec (same transform + params — the
    // params are part of the field name) separates it from EVERY touched
    // tuple. The ambiguous hive-default token (null or empty string)
    // proves nothing on either side.
    def provablyUntouched(f: DataFileMeta): Boolean = {
      val shared = f.partitionValues.filter { case (k, v) =>
        curKeys.contains(k) && v != PartitionRender.HiveDefault }
      shared.nonEmpty && touched.forall(t => shared.exists { case (k, v) =>
        t.get(k).exists(tv => tv != PartitionRender.HiveDefault && tv != v) })
    }
    val stale = kept.filter(f =>
      f.partitionValues.keySet != curKeys && !provablyUntouched(f))
    if (stale.nonEmpty) throw new IllegalStateException(
      s"INSERT OVERWRITE (dynamic) on ${meta.name}: ${stale.size} file(s) " +
        "recorded under an earlier partition spec may hold rows in the " +
        s"replaced partition(s) (e.g. ${stale.head.path}); run " +
        "rewrite_data_files to re-localize them onto the current spec first")
    commitSnapshot(
      newSnapshot("overwrite", kept ++ files, deleteFiles,
        Map("added-records" -> written.toString,
          "replaced-data-files" -> replaced.size.toString,
          "dynamic-overwrite" -> "true")),
      m => if (m.nextRowId >= 0) m.copy(nextRowId = start + written) else m)
  }

  /** TRUNCATE TABLE: a commit with no live files. */
  def truncate(): LakeTable =
    commitSnapshot(newSnapshot("truncate", Nil, Nil,
      Map("removed-data-files" -> dataFiles.size.toString)))

  // ------------------------------------------------------------------- DML

  /** DELETE FROM … WHERE cond (M4): a predicate provably covering whole
    * files commits METADATA-ONLY (the files drop from the live set — no
    * scan, no rewrite, no delete files; Iceberg's metadata delete and
    * the shape "drop last month from a 100 TB table" must take);
    * otherwise merge-on-read writes a position-delete file and
    * copy-on-write rewrites affected data files. */
  def delete(cond: Column): LakeTable = {
    // Resolve the predicate against an empty LocalRelation probe: Spark 4
    // Columns carry UnresolvedFunction('=') nodes, and only analysis
    // turns them into the EqualTo/In shapes the proof matches. Zero I/O;
    // an unanalyzable condition just forfeits the metadata path and the
    // row-level paths raise their canonical error.
    val conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      try {
        val probe = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .filter(cond)
        probe.queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }.map(SourceFilters.splitConjuncts).getOrElse(Nil)
      } catch { case scala.util.control.NonFatal(_) => Nil }
    val translated = conjuncts.map(SourceFilters.toSource)
    // the proof needs EVERY conjunct represented — a dropped conjunct
    // would widen the delete, so any untranslatable part forfeits the
    // metadata path entirely
    val asFilters = if (translated.forall(_.isDefined)) translated.flatten else Nil
    (if (asFilters.nonEmpty) metadataDeleteIfProvable(asFilters) else None)
      .getOrElse(if (isMorDelete) morDelete(cond, None) else cowRewrite(cond, None))
  }

  /** Iceberg's metadata DELETE: Some(committed table) when every file
    * the filters might touch is PROVABLY all-match — each conjunct an
    * equality/IN literal on an IDENTITY partition column whose rendered
    * file value equals a rendered literal. Identity rendering is
    * injective over non-null values and the ambiguous hive-default token
    * (null OR empty string) never proves, so a proven file contains ONLY
    * rows where the predicate is TRUE — NULL-predicate rows (which must
    * survive a SQL DELETE) cannot exist in it. Transformed partitions
    * (bucket/truncate/time) are many-to-one and never prove. Also the
    * DSv2 `SupportsDelete.deleteWhere` body. Any doubt → None → the
    * row-level paths own correctness. */
  private[lake] def metadataDeleteIfProvable(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Option[LakeTable] =
    metadataDeleteSet(filters).map { case (drop, keep) =>
      commitSnapshot(newSnapshot("delete", keep, deleteFiles,
        Map("removed-data-files" -> drop.size.toString,
          "metadata-delete" -> "true")))
    }

  /** Dry-run half of the metadata-delete proof (also the DSv2
    * `canDeleteWhere` body): Some((drop, keep)) when the proof holds,
    * None otherwise. Pure — commits nothing. */
  private[lake] def metadataDeleteSet(
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[(Seq[DataFileMeta], Seq[DataFileMeta])] = {
    import org.apache.spark.sql.{sources => v1}
    if (filters.isEmpty) return None
    val idents: Map[String, PartitionTransform] = transforms.collect {
      case t: PartitionTransforms.Identity => t.sourceCol.toLowerCase -> t
    }.toMap
    def proveIn(f: DataFileMeta, c: String, vs: Seq[Any]): Boolean =
      idents.get(c.toLowerCase).exists { tr =>
        f.partitionValues.get(tr.fieldName) match {
          case Some(pv) if pv != PartitionRender.HiveDefault =>
            vs.flatMap(tr.eqValue).contains(pv)
          case _ => false
        }
      }
    def proves(f: DataFileMeta, flt: v1.Filter): Boolean = flt match {
      case v1.EqualTo(c, v) => proveIn(f, c, Seq(v))
      case v1.In(c, vs) => proveIn(f, c, vs.toSeq)
      case _ => false
    }
    // might-match bound: the same conservative pruning scans use; every
    // file outside it provably holds no matching row and simply stays
    val pp = PartitionPruning.predicate(transforms, filters)
    val sp = StatsPruning.filePredicate(schema, filters)
    val (drop, keep) = dataFiles.partition(f => pp(f.partitionValues) && sp(f))
    if (drop.isEmpty || !drop.forall(f => filters.forall(proves(f, _)))) None
    else Some((drop, keep))
  }

  /** UPDATE … SET assignments WHERE cond (M5): MoR emits one commit with a
    * position-delete file + appended rewritten rows (J3); CoW rewrites the
    * affected files in place. v3 rewritten rows keep their `_row_id`. */
  def update(assignments: Map[String, Column], cond: Column): LakeTable = {
    val as = resolveAssignments(assignments)
    if (isMorUpdate) morDelete(cond, Some(as)) else cowRewrite(cond, Some(as))
  }

  /** SET-clause targets resolved against the schema case-insensitively
    * (Spark SQL's default resolution); an unknown target fails loudly —
    * silently dropping it would rewrite every affected file with
    * unchanged values and report success (review r6). */
  private def resolveAssignments(as: Map[String, Column]): Map[String, Column] = {
    val byLower = schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    as.map { case (k, v) =>
      byLower.getOrElse(k.toLowerCase, throw new IllegalArgumentException(
        s"assignment targets unknown column '$k' " +
          s"(columns: ${schema.fieldNames.mkString(", ")})")) -> v
    }
  }

  private def applyAssignments(
      df: DataFrame, as: Map[String, Column], keepRowId: Boolean): DataFrame = {
    val dataCols = schema.fields.map { f =>
      as.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
    }
    df.select((dataCols ++ (if (keepRowId) Seq(col(RowIdCol)) else Nil)): _*)
  }

  private def morDelete(cond: Column, upd: Option[Map[String, Column]]): LakeTable = {
    val seq = nextSeq
    upd match {
      case None =>
        // delete-only: only the (file, pos) coordinates flow — narrow
        // columns, full column pruning at the scan.
        val coords = readWithCoords().filter(cond)
          .select(col(FileCol).as("file_path"), col(PosCol).as("pos"))
        writeDeleteFiles(coords, seq) match {
          case None => this
          case Some((delMeta, n)) =>
            commitSnapshot(newSnapshot("delete", dataFiles, deleteFiles ++ delMeta,
              Map("deleted-records" -> n.toString)))
        }
      case Some(as) =>
        val keepIds = meta.formatVersion >= 3
        val matched = readWithCoords(withRowIds = keepIds).filter(cond).cache()
        try {
          val coords = matched
            .select(col(FileCol).as("file_path"), col(PosCol).as("pos"))
          writeDeleteFiles(coords, seq) match {
            case None => this
            case Some((delMeta, n)) =>
              val rewritten = applyAssignments(matched, as, keepRowId = keepIds)
              if (keepIds) {
                // v3: updated rows keep their lineage ids — no new ids minted
                val newData = writeDataFiles(rewritten, -1L, seq, withRowIdCol = true)
                commitSnapshot(
                  newSnapshot("update", dataFiles ++ newData, deleteFiles ++ delMeta,
                    Map("updated-records" -> n.toString)))
              } else {
                val start = meta.computedNextRowId
                val newData = writeDataFiles(rewritten, start, seq)
                commitSnapshot(
                  newSnapshot("update", dataFiles ++ newData, deleteFiles ++ delMeta,
                    Map("updated-records" -> n.toString)))
              }
          }
        } finally matched.unpersist()
    }
  }

  /** Paths of the files among `files` whose LIVE rows match `cond`
    * (rows where it is TRUE) — the ONE matched-file discovery used by
    * both CoW rewrite paths (builder [[cowRewrite]] and the native
    * ReplaceData scope in NativeReadRule), so live-row semantics and
    * path normalization cannot diverge between them. One narrow scan:
    * Catalyst prunes to the predicate's columns + the file path. Driver
    * memory is O(matched file paths). */
  private[lake] def matchedFilePaths(
      cond: Column, files: Seq[DataFileMeta]): Set[String] =
    readLiveFiles(files, withRowIds = false)
      .filter(cond).select(FileCol).distinct()
      .collect().map(_.getString(0)).toSet

  /** Enforce the session-principal grant rule for `perm` on this table
    * (no-op when [[LakeExtensions.PrincipalConf]] is unset) — the public
    * gate for surfaces outside the lake package (the streaming source). */
  def requireGrant(perm: String): Unit = Grants.require(spark, this, perm)

  /** Copy-on-write delete/update: rewrite only the files containing
    * matched rows; untouched files are carried over.
    *
    * Two passes, neither cached (VERDICT r4 #2): affected-path discovery
    * is a narrow projection (Catalyst prunes the scan to the predicate's
    * columns + file path), then the rewrite re-scans ONLY the affected
    * files — the shape compaction already uses. A CoW DELETE touching one
    * file of a 100 TB table reads the table once narrow and that one file
    * wide, instead of pinning a full-table cache. */
  private def cowRewrite(cond: Column, upd: Option[Map[String, Column]]): LakeTable = {
    val seq = nextSeq
    val keepIds = meta.formatVersion >= 3
    val affectedPaths = matchedFilePaths(cond, dataFiles)
    if (affectedPaths.isEmpty) return this
    val (affectedMeta, keep) = dataFiles.partition(f => affectedPaths.contains(f.path))
    val affectedRows = readLiveFiles(affectedMeta, withRowIds = keepIds)
    val outCols = schema.fieldNames.map(col) ++
      (if (keepIds) Seq(col(RowIdCol)) else Nil)
    // SQL WHERE semantics: a row is matched only when cond is TRUE —
    // rows where cond evaluates to NULL must SURVIVE the rewrite, so the
    // survivor filter is !coalesce(cond, false), not !cond (which would
    // silently drop NULL-predicate rows from rewritten files)
    val survivors = affectedRows
      .filter(!coalesce(cond, lit(false))).select(outCols: _*)
    val replacement = upd match {
      case None => survivors
      case Some(as) =>
        survivors.unionByName(
          applyAssignments(affectedRows.filter(cond), as, keepRowId = keepIds))
    }
    if (keepIds) {
      // v3: survivor + updated rows carry their original _row_id
      val newData = writeDataFiles(replacement, -1L, seq, withRowIdCol = true)
      commitSnapshot(
        newSnapshot(if (upd.isEmpty) "delete" else "update",
          keep ++ newData, deleteFiles,
          Map("rewritten-files" -> affectedMeta.size.toString)))
    } else {
      val start = if (meta.nextRowId >= 0) meta.nextRowId else meta.computedNextRowId
      val newData = writeDataFiles(replacement, start, seq)
      val written = newData.map(_.rowCount).sum
      commitSnapshot(
        newSnapshot(if (upd.isEmpty) "delete" else "update",
          keep ++ newData, deleteFiles,
          Map("rewritten-files" -> affectedMeta.size.toString)),
        m => if (m.nextRowId >= 0) m.copy(nextRowId = start + written) else m)
    }
  }

  /** MERGE INTO (upsert): one atomic commit combining a position-delete
    * file for matched target rows, rewritten rows for WHEN MATCHED
    * UPDATE, and appended source rows for WHEN NOT MATCHED INSERT.
    *
    * The target is exposed under alias `t` and the source under `s`, so
    * `on` and assignment expressions use qualified refs
    * (`col("t.id") === col("s.id")`, `col("s.amount")`). Multiple source
    * rows matching one target row is an error (ambiguous update — the
    * standard MERGE cardinality rule). INSERT takes the source's
    * target-schema columns by name. v3 lineage: updated rows keep their
    * `_row_id`; inserted rows mint new ids.
    *
    * Scale: the matched side flows as (coords + joined columns) through
    * an ordinary equi-join on the merge key (shuffle or broadcast by
    * size); the cardinality check is a metadata-thin aggregate over the
    * matched coords only. */
  def merge(
      source: DataFrame,
      on: Column,
      whenMatched: Option[MergeMatched] = None,
      insertNotMatched: Boolean = false,
      targetAlias: String = "t",
      sourceAlias: String = "s"): LakeTable =
    mergeClauses(source, on,
      whenMatched.map(a => MergeWhenMatched(None, a)).toSeq,
      if (insertNotMatched) Some(MergeWhenNotMatched(None, None)) else None,
      targetAlias, sourceAlias)

  /** Full multi-clause MERGE (r10): matched clauses fire in order per
    * row (first condition that holds wins; no clause ⇒ row untouched),
    * at most one conditional NOT MATCHED insert with `INSERT *` or an
    * explicit column list (unlisted columns take the v3 write-default
    * when declared, else NULL). Conditions and assignments see both
    * aliases. Same physical shape as before: MoR mints ONE position-
    * delete file over the ACTED rows + appends rewrites/inserts; CoW
    * swaps only files containing acted rows and never mints deletes. */
  def mergeClauses(
      source: DataFrame,
      on: Column,
      matchedClauses: Seq[MergeWhenMatched],
      notMatched: Option[MergeWhenNotMatched],
      targetAlias: String = "t",
      sourceAlias: String = "s",
      /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE`
        * (r10, the mirror-sync clause): fires on TARGET rows with no
        * source match — conditions/assignments see the target alias
        * only. Same first-wins ordering as the matched clauses. */
      notMatchedBySource: Seq[MergeWhenMatched] = Nil): LakeTable = {
    val seq = nextSeq
    val keepIds = meta.formatVersion >= 3 && meta.nextRowId >= 0
    val tgt = readWithCoords(withRowIds = keepIds).alias(targetAlias)
    val src = source.alias(sourceAlias)
    // clause dispatch: 1-based index of the FIRST clause whose condition
    // holds; 0 = matched but no clause fires (row untouched)
    def dispatch(cls: Seq[MergeWhenMatched]): Column = cls.zipWithIndex
      .foldLeft(when(lit(false), 0)) { case (acc, (cl, i)) =>
        acc.when(cl.condition.getOrElse(lit(true)), i + 1)
      }.otherwise(0)
    val matched = tgt.join(src, on, "inner")
      .withColumn(MergeClauseCol, dispatch(matchedClauses)).cache()
    // target rows with NO source pairing (each appears exactly once —
    // anti-join — so no cardinality guard is needed on this side)
    val unmatchedTgt =
      if (notMatchedBySource.isEmpty) None
      else Some(tgt.join(src, on, "left_anti")
        .withColumn(MergeClauseCol, dispatch(notMatchedBySource)).cache())
    try {
      val acted = matched.filter(col(MergeClauseCol) > 0)
      val actedU = unmatchedTgt.map(_.filter(col(MergeClauseCol) > 0))
      def coordsOf(df: DataFrame) =
        df.select(col(FileCol).as("file_path"), col(PosCol).as("pos"))
      val actedCoords = actedU.map(u => coordsOf(acted).union(coordsOf(u)))
        .getOrElse(coordsOf(acted))
      // cardinality guard only when a matched ACTION exists — standard
      // MERGE semantics forbid ambiguous update/delete, not insert-only
      // merges whose source happens to multi-match. The guard covers ALL
      // matched pairs (conditional clauses included): which clause fires
      // for a doubly-matched row depends on the pairing, so the
      // ambiguity exists even when only one pairing passes a condition.
      if (matchedClauses.nonEmpty) {
        val dups = matched.groupBy(col(FileCol), col(PosCol)).count()
          .filter(col("count") > 1).limit(1).count()
        if (dups > 0)
          throw new IllegalArgumentException(
            "MERGE: multiple source rows match the same target row " +
              "(ambiguous update); deduplicate the source on the merge key")
      }

      // WHEN MATCHED UPDATE output: clause-i rows with assignments applied
      def updatedRows(rows: DataFrame, i: Int,
          rawAs: Map[String, Column]): DataFrame = {
        val as = resolveAssignments(rawAs)
        val outCols = schema.fields.map { f =>
          as.get(f.name).map(_.cast(f.dataType).as(f.name))
            .getOrElse(col(s"$targetAlias.${f.name}").as(f.name))
        } ++ (if (keepIds) Seq(col(RowIdCol)) else Nil)
        rows.filter(col(MergeClauseCol) === i + 1).select(outCols.toSeq: _*)
      }
      def updateParts(rows: DataFrame, cls: Seq[MergeWhenMatched]) =
        cls.zipWithIndex.collect {
          case (MergeWhenMatched(_, MergeMatched.Update(as)), i) =>
            updatedRows(rows, i, as)
        }
      val updateUnion: Option[DataFrame] =
        (updateParts(matched, matchedClauses) ++
          unmatchedTgt.toSeq.flatMap(u => updateParts(u, notMatchedBySource)))
          .reduceOption(_ unionByName _)
      // implicit-id accounting (v2 / unminted v3): rewritten rows take
      // [start, start+nRw), inserts continue from there — disjoint ranges
      // keep a later v3 upgrade's computedNextRowId collision-free
      val start = if (meta.nextRowId >= 0) meta.nextRowId else meta.computedNextRowId
      def writeInserts(from: Long): Seq[DataFileMeta] = notMatched match {
        case None => Nil
        case Some(MergeWhenNotMatched(cond, values)) =>
          val base0 = src.join(tgt, on, "left_anti")
          val base = cond.map(base0.filter).getOrElse(base0)
          val writeDefaults = meta.columnDefaults
            .flatMap(d => d.write.map(d.colName -> _)).toMap
          val projected = values match {
            case None => base.select(schema.fields.map(f =>
              col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
            case Some(vs0) =>
              val vs = resolveAssignments(vs0)
              base.select(schema.fields.map { f =>
                vs.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(
                  writeDefaults.get(f.name)
                    .map(v => lit(v).cast(f.dataType).as(f.name))
                    .getOrElse(lit(null).cast(f.dataType).as(f.name)))
              }.toSeq: _*)
          }
          writeDataFiles(projected, from, seq)
      }

      if (isMorUpdate) {
        // MoR: acted coords → one position-delete file; updates append
        val delOpt =
          if (matchedClauses.isEmpty && notMatchedBySource.isEmpty) None
          else writeDeleteFiles(actedCoords, seq)
        val rewritten: Seq[DataFileMeta] = updateUnion match {
          case Some(u) if delOpt.isDefined =>
            writeDataFiles(u, start, seq, withRowIdCol = keepIds)
          case _ => Nil // delete-only clauses (or nothing acted): no rewrite
        }
        val nRw = if (keepIds) 0L else rewritten.map(_.rowCount).sum
        val inserted = writeInserts(start + nRw)
        val nIns = inserted.map(_.rowCount).sum
        if (delOpt.isEmpty && inserted.isEmpty) return this
        val (delMeta, nMatched) = delOpt.getOrElse((Nil, 0L))
        commitSnapshot(
          newSnapshot("merge", dataFiles ++ rewritten ++ inserted,
            deleteFiles ++ delMeta,
            Map("matched-records" -> nMatched.toString,
              "inserted-records" -> nIns.toString)),
          m => if (m.nextRowId >= 0) m.copy(nextRowId = start + nIns) else m)
      } else {
        // CoW: rewrite only the files containing ACTED rows — a merge
        // on a copy-on-write table must NOT mint delete files (they would
        // break strict v2 readers, the failure this engine exists to fix).
        // No firing clause ⇒ matched rows are untouched: rewrite NOTHING
        // (an unconditional rewrite here silently deleted every matched
        // row on insert-only merges — review r6)
        val affectedPaths =
          if (matchedClauses.isEmpty && notMatchedBySource.isEmpty)
            Set.empty[String]
          else actedCoords.select("file_path").distinct()
            .collect().map(_.getString(0)).toSet
        val (affectedMeta, keep) = dataFiles.partition(f =>
          affectedPaths.contains(f.path))
        val nMatched = acted.count() + actedU.map(_.count()).getOrElse(0L)
        val rewritten: Seq[DataFileMeta] =
          if (affectedMeta.isEmpty) Nil
          else {
            val affectedRows = tgt.join(broadcast(fileAttrs(affectedMeta)),
              col(FileCol) === col(AttrPath), "left_semi")
            val survivors = affectedRows
              .join(broadcast(actedCoords),
                col(FileCol) === col("file_path") && col(PosCol) === col("pos"),
                "left_anti")
              .select((schema.fieldNames.map(n => col(s"$targetAlias.$n").as(n)) ++
                (if (keepIds) Seq(col(RowIdCol)) else Nil)).toSeq: _*)
            val replacement = updateUnion match {
              case Some(u) => survivors.unionByName(u)
              case None => survivors // delete-only clauses: drop acted rows
            }
            writeDataFiles(replacement, start, seq, withRowIdCol = keepIds)
          }
        val nRw = if (keepIds) 0L else rewritten.map(_.rowCount).sum
        val inserted = writeInserts(start + nRw)
        val nIns = inserted.map(_.rowCount).sum
        if (affectedMeta.isEmpty && inserted.isEmpty) return this
        commitSnapshot(
          newSnapshot("merge", keep ++ rewritten ++ inserted, deleteFiles,
            Map("matched-records" -> nMatched.toString,
              "inserted-records" -> nIns.toString,
              "rewritten-files" -> affectedMeta.size.toString)),
          m => if (m.nextRowId >= 0) m.copy(nextRowId = start + nIns) else m)
      }
    } finally {
      matched.unpersist()
      unmatchedTgt.foreach(_.unpersist())
    }
  }

  /** Equality deletes (J2, v2 spec completeness): rows matching any tuple
    * of `values` over `cols` — in data files older than this commit — are
    * dropped at scan time via anti-join. */
  def addEqualityDeletes(values: DataFrame, cols: Seq[String]): LakeTable = {
    // a committed equality delete on a nonexistent column would make
    // every later read (and the compaction that could remove it) throw
    require(cols.nonEmpty && cols.forall(schema.fieldNames.contains),
      s"equality-delete columns must be schema columns: $cols")
    val seq = nextSeq
    val delDir = location.resolve("deletes")
    Files.createDirectories(delDir)
    val delPath = delDir.resolve(UUID.randomUUID().toString)
    values.select(cols.map(col): _*).distinct()
      .coalesce(1).write.parquet(delPath.toString)
    val written = listParquetFiles(delPath)
    val n = footerRowCount(written)
    if (n == 0) { deleteRecursively(delPath); return this }
    val delMeta = written
      .map(p => DeleteFileMeta(p.toString, "equality", n, cols, seq))
    commitSnapshot(newSnapshot("delete", dataFiles, deleteFiles ++ delMeta,
      Map("equality-delete-records" -> n.toString)))
  }

  /** Rows in freshly written parquet files, summed from their footers —
    * driver-side, no Spark job. */
  private def footerRowCount(files: Seq[Path]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    files.map(StatsPruning.rowCount(conf, _)).sum
  }

  /** CDC-style equality upsert (Iceberg's streaming-upsert pattern): ONE
    * commit adds `rows` as data files AND an equality-delete file over
    * `keyCols`, so any OLDER row with a matching key disappears at scan
    * time — the new files share the commit's sequence number and survive
    * their own delete (strictly-older rule). The upsert never reads the
    * table: O(batch) per commit regardless of table size, which is what
    * a 100 TB streaming upsert needs (MERGE joins the target every
    * batch); the deferred merge is paid at scan (J2's one-broadcast-join-
    * per-column-set) and reclaimed by compaction. Commits REBASE on
    * conflict like append — a rebased delete applies to whatever is
    * strictly older at its commit, so concurrent upserts converge to
    * last-committer-wins per key, which IS upsert semantics. Re-applying
    * the same batch converges by value too (the redelivered delete hides
    * the first copy), so streaming redelivery needs no batch-id gate.
    * Caller contract: at most one row per key per batch.
    *
    * MoR-only (ADVICE r6): the whole point of the operation is the minted
    * equality-delete file, and a copy-on-write table must never carry
    * delete files — they break the strict v2 readers CoW mode exists for
    * (same contract merge() enforces on its CoW branch). */
  def upsertByKey(rows: DataFrame, keyCols: Seq[String]): LakeTable =
    equalityReplace(rows, keyCols, "upsertByKey")

  /** SET-replacement by key (the index-maintenance primitive, X49/X50):
    * like [[upsertByKey]] but `rows` may carry ANY number of rows per
    * key — one commit adds them all as data files and an equality-delete
    * over `keyCols` hides every strictly-older row of those keys, so the
    * new rows REPLACE the key's previous row set atomically. This is
    * exactly what rebuilding a changed doc's derived index rows needs
    * (a doc owns MANY posting/shingle/sigband rows): retire + rebuild in
    * ONE commit, O(changed keys' rows) I/O, never a table scan. Same
    * rebase/replay convergence as upsertByKey — rows within one batch
    * share the commit's sequence number, so they all survive their own
    * delete. */
  def replaceByKey(rows: DataFrame, keyCols: Seq[String],
      extraProps: Map[String, String] = Map.empty): LakeTable =
    equalityReplace(rows, keyCols, "replaceByKey", extraProps = extraProps)

  /** Explicit-key variant: the equality delete covers `keys` (one column
    * per `keyCols` entry) rather than being derived from `rows`, so a
    * key whose NEW row set is empty still retires its old rows in the
    * SAME commit as every other key's rebuild. Two callers need this
    * (both found as r17 crash/staleness windows): a doc re-crawled to
    * fewer tokens than one shingle owns zero new posting rows but must
    * still lose its old ones, and a vector that re-embedded to a
    * non-finite norm must leave the signature index with NO replacement
    * rows — in one commit, so no crash point separates its retire from
    * its peers' rebuild. `keys` must cover every key present in `rows`
    * (guarded — a row outside the delete's cover would APPEND next to
    * its old rows instead of replacing them). */
  def replaceByKey(rows: DataFrame, keyCols: Seq[String],
      keys: DataFrame): LakeTable =
    equalityReplace(rows, keyCols, "replaceByKey", Some(keys))

  /** Explicit-key + atomic-props variant: `extraProps` lands in the
    * SAME commit as the replacement (the [[append]] convention) — the
    * streaming graph ingest stamps its batch-id gate on the final edge
    * swap this way, so a crash can never separate the data from the
    * replay marker. */
  def replaceByKey(rows: DataFrame, keyCols: Seq[String],
      keys: DataFrame, extraProps: Map[String, String]): LakeTable =
    equalityReplace(rows, keyCols, "replaceByKey", Some(keys), extraProps)

  private def equalityReplace(
      rows: DataFrame, keyCols: Seq[String], op: String,
      explicitKeys: Option[DataFrame] = None,
      extraProps: Map[String, String] = Map.empty): LakeTable = {
    if (!isMorDelete)
      throw new IllegalStateException(
        s"$op on ${meta.name}: equality-delete upserts require " +
          "write.delete.mode=merge-on-read (a copy-on-write table must not " +
          "carry delete files — strict v2 readers reject them); set the " +
          "property or use merge() for copy-on-write upserts")
    require(keyCols.nonEmpty && keyCols.forall(schema.fieldNames.contains),
      s"upsert keys must be schema columns: $keyCols")
    val written0 = writeDataFiles(rows, 0L, 0L) // stamps re-based per attempt
    // cover guard: an explicit key set that misses a row's key would
    // silently degrade replace to append for that key. Validated AFTER
    // the write against the freshly materialized files (ADVICE r18 #3 —
    // the old pre-write except-probe re-evaluated the whole replacement
    // frame, running recrawlDocs' shingling pipeline twice), so the
    // probe is one bounded key-column scan of O(changed) parquet. A
    // failed guard aborts before any commit; the orphaned data files
    // are reclaimed by the age-gated orphan sweep.
    explicitKeys.filter(_ => written0.nonEmpty).foreach { ks =>
      // scanned with the files' own (footer) schema, as they were written
      val fileSchema = StatsPruning.readFooter(spark.sessionState.newHadoopConf(),
        java.nio.file.Paths.get(written0.head.path), new StructType()).schema
      val uncovered = scanData(spark, fileSchema, written0)
        .select(keyCols.map(col): _*)
        .except(ks.select(keyCols.map(col): _*))
        .limit(1).count()
      require(uncovered == 0,
        s"$op on ${meta.name}: explicit key set must cover every key in " +
          "the replacement rows (found a row whose key the delete misses)")
    }
    val written = written0.map(_.rowCount).sum
    if (written == 0) {
      // nothing to add: with explicit keys this is a pure retire — the
      // single-commit contract still holds (one delete-only commit);
      // without them the derived key set is empty too, a no-op. Any
      // extraProps land in a follow-up metadata commit here (the
      // delete-only corner); a crash between the two replays the
      // retire, which is idempotent by value.
      val retired = explicitKeys match {
        case Some(ks) => addEqualityDeletes(ks, keyCols)
        case None => this
      }
      return if (extraProps.isEmpty) retired
        else retired.setProperties(extraProps)
    }
    val delDir = location.resolve("deletes")
    Files.createDirectories(delDir)
    val delPath = delDir.resolve(UUID.randomUUID().toString)
    explicitKeys.getOrElse(rows).select(keyCols.map(col): _*).distinct()
      .coalesce(1).write.parquet(delPath.toString)
    val delFiles = listParquetFiles(delPath)
    val delCount = footerRowCount(delFiles)
    rebaseCommit(written0) { (h, files, start, seq) =>
      val delMeta = delFiles.map(p =>
        DeleteFileMeta(p.toString, "equality", delCount, keyCols, seq))
      h.commitSnapshot(
        h.newSnapshot("upsert", h.dataFiles ++ files, h.deleteFiles ++ delMeta,
          Map("added-records" -> written.toString,
            "equality-delete-records" -> delCount.toString)),
        m => {
          val m2 = if (m.nextRowId >= 0)
            m.copy(nextRowId = start + written) else m
          if (extraProps.isEmpty) m2
          else m2.copy(props = m2.props ++ extraProps)
        })
    }
  }

  // -------------------------------------------------------------- metadata

  /** ALTER TABLE … SET TBLPROPERTIES (generic); format-version changes go
    * through Procedures.upgradeFormatVersion. */
  def setProperties(kv: Map[String, String]): LakeTable =
    withMeta(meta.copy(props = meta.props ++ kv))

  /** Store an ANALYZE run's output (M50) — one metadata commit. */
  def setTableStats(ts: TableStats): LakeTable =
    withMeta(meta.copy(tableStats = Some(ts)))

  /** Parquet bloom-filter writer keys from the
    * `write.parquet.bloom-filter-columns` property (M52): point lookups
    * on high-cardinality, unsorted columns — exactly where min/max
    * footer stats can't prune — skip row groups via the bloom instead of
    * decoding them. Applied on EVERY write surface (appends, compaction
    * rewrites, native DML writers), so updated regions keep their
    * blooms. Unknown names are ignored by parquet-mr (nothing to
    * validate at write time; the property is advisory layout, like
    * write.sort-order). */
  private[lake] def bloomFilterConf: Map[String, String] =
    meta.props.get("write.parquet.bloom-filter-columns") match {
      case Some(cols) if cols.trim.nonEmpty =>
        cols.split(",").map(_.trim).filter(_.nonEmpty)
          .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
      case _ => Map.empty
    }

  /** ALTER TABLE … ADD COLUMN — metadata-only: existing parquet files
    * simply lack the column and the schema-projected scan null-fills it
    * (Iceberg's add-column semantics). New writes carry it physically. */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType,
      default: Option[String] = None): LakeTable = {
    // rejects duplicates, partition-field collisions (`ts_day` next to
    // days(ts) — M36) and names some LIVE file's epoch used physically
    // for a different column (M48: an added column has no change-log
    // entry, so it maps to its own name in every epoch — reusing a
    // historical name would collide with old files' physical columns)
    requireFreshName(name)
    // variant is v3-only (M47) — same gate createTable runs
    if (meta.formatVersion < 3)
      LakeTable.requireNoVariant(
        StructType(Seq(StructField(name, dataType))), meta.name, meta.formatVersion)
    // Iceberg v3 ADD COLUMN ... DEFAULT: one literal becomes BOTH the
    // initial-default (what pre-column rows read back as) and the
    // write-default (what a writer omitting the column lands) — fixed
    // now, not re-evaluated. The addedSeq watermark is lastSequenceNumber
    // + 1: every live file has seq <= lastSequenceNumber, every future
    // data commit gets a strictly higher one, so the pre/post split is
    // exact without touching any file.
    default.foreach { d =>
      // fail at DDL time if the literal can't cast to the column type
      val probe = org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(d), dataType)
      if (!probe.resolved || probe.eval() == null)
        throw new IllegalArgumentException(
          s"DEFAULT '$d' is not a valid $dataType literal")
    }
    withMeta(meta.copy(
      schemaDdl = StructType(schema.fields :+ StructField(name, dataType)).toDDL,
      columnDefaults = meta.columnDefaults ++ default.map(d =>
        ColumnDefault(name, initial = Some(d), write = Some(d),
          addedSeq = meta.lastSequenceNumber + 1))))
  }

  /** ALTER COLUMN … SET DEFAULT — changes only the WRITE default
    * (Iceberg v3 semantics: the initial-default is immutable once set;
    * already-written rows must keep reading back the same values). */
  def setWriteDefault(name: String, value: String): LakeTable = {
    val f = schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no column $name on ${meta.name}"))
    val probe = org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(value), f.dataType)
    if (!probe.resolved || probe.eval() == null)
      throw new IllegalArgumentException(
        s"DEFAULT '$value' is not a valid ${f.dataType} literal")
    val existing = meta.columnDefaults.find(_.colName == name)
    val updated = existing match {
      case Some(cd) => meta.columnDefaults.map(c =>
        if (c.colName == name) cd.copy(write = Some(value)) else c)
      case None => meta.columnDefaults :+
        // no initial: rows from before this DDL read back unchanged
        ColumnDefault(name, initial = None, write = Some(value),
          addedSeq = meta.lastSequenceNumber + 1)
    }
    withMeta(meta.copy(columnDefaults = updated))
  }

  /** ALTER TABLE … DROP COLUMN — metadata-only: the scan projects the
    * narrowed schema and parquet ignores the extra physical column. The
    * partition spec and live equality-delete columns must survive. */
  def dropColumn(name: String): LakeTable = {
    if (!schema.fieldNames.contains(name))
      throw new IllegalArgumentException(s"no column $name on ${meta.name}")
    if (transforms.exists(_.sourceCol == name))
      throw new IllegalArgumentException(s"cannot drop partition column $name")
    if (deleteFiles.exists(_.equalityCols.contains(name)))
      throw new IllegalArgumentException(
        s"cannot drop $name: live equality-delete files reference it (compact first)")
    withMeta(meta.copy(
      schemaDdl = StructType(schema.fields.filterNot(_.name == name)).toDDL,
      columnDefaults = meta.columnDefaults.filterNot(_.colName == name),
      // readers ignore "drop" entries; the log line only RETIRES the
      // name (M48 requireFreshName) — live files still carry the column
      // physically, and a later ADD/RENAME to the same name would remap
      // their stale values onto the new column
      schemaChanges = meta.schemaChanges :+ SchemaChange(
        "drop", col = name, from = name, seq = meta.lastSequenceNumber + 1)))
  }

  /** ALTER TABLE … RENAME COLUMN a TO b — metadata-only (M48): no file
    * is touched; a [[SchemaChange]] log entry records the step and every
    * reader derives per-file physical names from it (Iceberg renames via
    * immutable field ids; the log is this engine's name-keyed
    * equivalent). Partition specs, column defaults and the write-order
    * property follow the rename; recorded partition/stat keys in old
    * manifests are lifted to current names at read time, so pruning
    * keeps firing on pre-rename files. A renamed TRANSFORM source also
    * logs its derived partition-field rename (ts_day → ts2_day) under
    * the same sequence, which is what lifts those recorded keys. */
  def renameColumn(from: String, to: String): LakeTable = {
    if (!schema.fieldNames.contains(from))
      throw new IllegalArgumentException(s"no column $from on ${meta.name}")
    requireFreshName(to)
    val ddlSeq = meta.lastSequenceNumber + 1
    // derived partition-field renames for transforms over this source
    // (identity transforms' fieldName IS the column — the main entry
    // covers them; logging a duplicate would double-apply nothing, but
    // keep the log minimal)
    val fieldRenames = transforms
      .filter(t => t.sourceCol == from && t.fieldName != from)
      .map(t => SchemaChange("rename",
        col = to + t.fieldName.stripPrefix(from), from = t.fieldName, seq = ddlSeq))
    val word = java.util.regex.Pattern.quote(from)
    val newSpecs = meta.partitionCols.map(raw =>
      if (PartitionTransform.parseAll(Seq(raw), schema, strict = false)
        .exists(_.sourceCol == from)) raw.replaceAll(s"\\b$word\\b", to)
      else raw)
    withMeta(meta.copy(
      schemaDdl = StructType(schema.fields.map(x =>
        if (x.name == from) x.copy(name = to) else x)).toDDL,
      partitionCols = newSpecs,
      columnDefaults = meta.columnDefaults.map(cd =>
        if (cd.colName == from) cd.copy(colName = to) else cd),
      // ANALYZE output follows the rename (values are unchanged by it)
      tableStats = meta.tableStats.map(ts => ts.copy(columns =
        ts.columns.map(c => if (c.col == from) c.copy(col = to) else c))),
      props = renameInSortOrder(meta.props, from, to),
      schemaChanges = meta.schemaChanges ++
        (SchemaChange("rename", col = to, from = from, seq = ddlSeq) +: fieldRenames)))
  }

  /** ALTER COLUMN … TYPE — metadata-only type WIDENING (Iceberg type
    * promotion: int → bigint, float → double, decimal(P,S) →
    * decimal(P',S) with P' > P). Old files keep their narrow physical
    * type; the per-epoch scan casts them up, and footer-stat strings
    * parse fine under the wider type, so skipping survives. Anything
    * outside the promotion matrix — and any narrowing — is rejected:
    * those would change written values. Bucket-transform sources cannot
    * widen (Spark hashes INT and BIGINT differently, so recorded bucket
    * values would prune wrongly against post-widen literals). */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType): LakeTable = {
    import org.apache.spark.sql.types._
    val f = schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no column $name on ${meta.name}"))
    val ok = (f.dataType, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision > d1.precision
      case _ => false
    }
    if (!ok) throw new IllegalArgumentException(
      s"cannot change $name from ${f.dataType.sql} to ${to.sql}: only " +
        "widening promotions are supported (INT->BIGINT, FLOAT->DOUBLE, " +
        "DECIMAL(P,S)->DECIMAL(P',S) with P'>P)")
    if (transforms.exists(t => t.sourceCol == name &&
        t.isInstanceOf[PartitionTransforms.Bucket]))
      throw new IllegalArgumentException(
        s"cannot widen $name: it is a bucket-partition source and the " +
          "bucket hash is type-sensitive — rewrite under a new spec first")
    withMeta(meta.copy(
      schemaDdl = StructType(schema.fields.map(x =>
        if (x.name == name) x.copy(dataType = to) else x)).toDDL,
      schemaChanges = meta.schemaChanges :+ SchemaChange(
        "widen", col = name, from = f.dataType.sql,
        seq = meta.lastSequenceNumber + 1)))
  }

  /** A name is usable for ADD COLUMN / RENAME … TO only if no LIVE
    * file's epoch could have used it physically for a different column:
    * current names, every historical name in the change log (renames'
    * `from`s and dropped columns), and derived partition-field names are
    * all off limits. Without this, two current columns could map to the
    * SAME physical column of an old file — the collision Iceberg's field
    * ids make impossible. Rewriting the table (compaction materializes
    * current names) does not clear the log; names retire permanently,
    * which is the conservative direction. */
  private def requireFreshName(name: String): Unit = {
    if (name.startsWith("_") || name.startsWith("__"))
      throw new IllegalArgumentException(
        s"column name $name is reserved (metadata-column prefix)")
    if (schema.fieldNames.contains(name))
      throw new IllegalArgumentException(s"column $name already exists on ${meta.name}")
    val historical = meta.schemaChanges.flatMap(c => Seq(c.col, c.from)).toSet
    if (historical.contains(name))
      throw new IllegalArgumentException(
        s"column name $name was used by an earlier schema version of " +
          s"${meta.name}; live files may still carry it physically — " +
          "pick a fresh name")
    if (transforms.exists(t => t.fieldName == name && t.sourceCol != name))
      throw new IllegalArgumentException(
        s"column $name collides with partition field $name on ${meta.name}")
  }

  private def renameInSortOrder(props: Map[String, String],
      from: String, to: String): Map[String, String] =
    props.get("write.sort-order") match {
      case Some(so) if so.nonEmpty =>
        val word = java.util.regex.Pattern.quote(from)
        props + ("write.sort-order" -> so.replaceAll(s"\\b$word\\b", to))
      case _ => props
    }

  /** Partition-spec evolution (metadata-only, Iceberg-style): future
    * writes partition by `cols`; files written under earlier specs keep
    * their recorded partition values, and pruning stays correct because
    * the DSv2 partition predicate is conservative — a file with no
    * recorded value for a constrained column is always kept (its rows
    * are re-filtered above the scan). Stats-based skipping covers the
    * pre-evolution files where partition pruning can't. */
  def setPartitionSpec(cols: Seq[String]): LakeTable = {
    PartitionTransform.parseAll(cols, schema) // validates columns + transforms
    withMeta(meta.copy(partitionCols = cols))
  }

  /** Tag a retained snapshot with a stable name (Iceberg tag): readable
    * via [[readTag]] and protected from expire_snapshots until dropped. */
  def tagSnapshot(name: String, snapshotId: Long): LakeTable = {
    if (!meta.snapshots.exists(_.id == snapshotId))
      throw new IllegalArgumentException(
        s"table ${meta.name} has no snapshot $snapshotId to tag")
    if (meta.tags.contains(name))
      throw new IllegalArgumentException(s"tag $name already exists")
    withMeta(meta.copy(tags = meta.tags + (name -> snapshotId)))
  }

  def dropTag(name: String): LakeTable = {
    if (!meta.tags.contains(name))
      throw new IllegalArgumentException(s"no tag $name on ${meta.name}")
    withMeta(meta.copy(tags = meta.tags - name))
  }

  /** Time travel by tag name. */
  def readTag(name: String): DataFrame =
    readSnapshot(meta.tags.getOrElse(name,
      throw new IllegalArgumentException(s"no tag $name on ${meta.name}")))

  // -------------------------------------------------------------- branches

  /** Create a WRITABLE ref (Iceberg branch) at `from` (default: this
    * handle's current snapshot) — the start of a write-audit-publish
    * arc: DML through [[onBranch]] advances only the branch pointer, so
    * main readers never see unvalidated data; [[fastForward]] publishes.
    * Branch heads are expiry-protected like tags. Metadata-only commit. */
  def createBranch(name: String, from: Option[Long] = None): LakeTable = {
    val at = from.getOrElse(currentSnapshot.map(_.id).getOrElse(
      throw new IllegalStateException(
        s"table ${meta.name} has no snapshot to branch from")))
    if (!meta.snapshots.exists(_.id == at))
      throw new IllegalArgumentException(
        s"table ${meta.name} has no snapshot $at to branch from")
    if (meta.branches.contains(name))
      throw new IllegalArgumentException(s"branch $name already exists")
    withMeta(meta.copy(branches = meta.branches + (name -> at)))
  }

  /** Branch-scoped handle: reads resolve the branch head; every commit
    * (append/DELETE/UPDATE/MERGE/compaction) advances the branch
    * pointer and leaves main untouched. Same optimistic-concurrency
    * rules as main — snapshot ids and sequence numbers stay globally
    * monotone, and v3 row ids are minted from the shared high-water
    * mark, so lineage is unique across refs. */
  def onBranch(name: String): LakeTable = {
    branchHead(name) // validate eagerly: a typo should fail here, not at first read
    new LakeTable(spark, location, meta, clock, loadedVersion, Some(name))
  }

  def dropBranch(name: String): LakeTable = {
    branchHead(name)
    withMeta(meta.copy(branches = meta.branches - name))
  }

  /** Publish a branch: move MAIN's current pointer to the branch head
    * (metadata-only commit; the branch ref survives, Iceberg-style).
    * The engine keeps no ancestry graph, so unlike Iceberg's
    * fast_forward this does not require main to be an ancestor — any
    * main commits since the branch point are superseded (not lost:
    * every snapshot stays time-travelable until expiry). Audit-style
    * pipelines that branch, validate, publish without concurrent main
    * writes get exactly fast-forward semantics. */
  def fastForward(name: String): LakeTable = {
    val head = branchHead(name)
    withMeta(meta.copy(currentSnapshotId = head))
  }

  /** Scan a branch's head state (same MoR semantics as any scan). */
  def readBranch(name: String): DataFrame = readSnapshot(branchHead(name))

  /** Roll the table back to a retained snapshot: a NEW commit whose
    * content is the old snapshot's file lists — history is preserved
    * (time travel still sees everything), only the current pointer
    * moves. */
  def rollbackTo(snapshotId: Long): LakeTable = {
    val snap = meta.snapshots.find(_.id == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"table ${meta.name} has no snapshot $snapshotId"))
    commitSnapshot(newSnapshot("rollback", snap.dataFiles, snap.deleteFiles,
      Map("rolled-back-to" -> snapshotId.toString)))
  }

  private[lake] def withMeta(m: TableMetadata): LakeTable =
    committed(Meta.commit(location, m, loadedVersion))

  /** DESCRIBE (M6): (col_name, data_type) rows. */
  def describe(): DataFrame = {
    import spark.implicits._
    schema.fields.toSeq
      .map(f => (f.name, f.dataType.sql.toLowerCase))
      .toDF("col_name", "data_type")
  }
}

object LakeTable {
  private[lake] val FileCol = "__fp"
  private[lake] val PosCol = "__pos"
  private[lake] val RowIdCol = "_row_id"
  /** 1-based index of the first firing WHEN MATCHED clause (0 = none). */
  private[lake] val MergeClauseCol = "__merge_clause"
  private[lake] val PartPrefix = "__p_"
  private[lake] val AttrPath = "__attr_path"
  private[lake] val AttrSeq = "__attr_seq"
  private[lake] val AttrFirst = "__attr_first"
  private[lake] val DelSeqCol = "__del_seq"

  /** v3 gate for the VARIANT type (M47): Iceberg added variant in spec
    * v3, so a v2 table carrying one would be unreadable by every
    * spec-compliant v2 reader. Checked recursively (array/map/struct
    * nesting counts) at CREATE TABLE and ADD COLUMN; the remedy is the
    * repo's whole theme — upgrade to format-version 3. */
  private[lake] def requireNoVariant(
      schema: StructType, table: String, version: Int): Unit = {
    def hasVariant(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.VariantType => true
      case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasVariant(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasVariant(m.keyType) || hasVariant(m.valueType)
      case _ => false
    }
    schema.fields.filter(f => hasVariant(f.dataType)).foreach { f =>
      throw new IllegalArgumentException(
        s"column ${f.name} on $table is VARIANT, an Iceberg v3 type, but " +
          s"the table is format-version $version — upgrade to " +
          "format-version 3 first ('format-version'='3')")
    }
  }

  /** Changelog output columns (Iceberg's changelog-scan names). */
  val ChangeTypeCol = "_change_type"
  val ChangeOrdinalCol = "_change_ordinal"
  val ChangeSnapshotCol = "_commit_snapshot_id"
  val ChangeInsert = "INSERT"
  val ChangeDelete = "DELETE"

  private[lake] val DeleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** Deletion-vector file schema (M37): one bitmap row per data file. */
  private[lake] val DvSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("dv", BinaryType),
    StructField("cnt", LongType)))

  /** Scan of lake data files, planned from their recorded paths and
    * sizes ([[LakeFileIndex]]). */
  private[lake] def scanData(spark: SparkSession, schema: StructType,
      files: Seq[DataFileMeta]): DataFrame =
    LakeFileIndex.scan(spark, schema, files.map(f => f.path -> f.sizeBytes))

  /** Scan of delete files, planned from their recorded paths; delete
    * files record no size, so each is stat'ed on the driver. */
  private[lake] def scanDeletes(spark: SparkSession, schema: StructType,
      files: Seq[DeleteFileMeta]): DataFrame =
    LakeFileIndex.scan(spark, schema, files.map(_.path -> 0L))

  /** `_metadata.file_path` is a *percent-encoded* URI (`file:///…`;
    * space → `%20`, `%` → `%25` — Spark's SparkPath keeps the url-encoded
    * form), while metadata stores plain absolute filesystem paths from
    * `Files.walk`. Before this decoded (VERDICT r3 #1), a warehouse path
    * containing a space or `%` made every lookup of a scanned row's file
    * in metadata miss (then: fresh files classified zero-row and deleted,
    * silent data loss). Normalized in SQL so joins on file path
    * never need a UDF: strip the local scheme, protect literal `+`
    * (legal raw in URI paths, but form-decoding maps it to a space), then
    * percent-decode. */
  private[lake] def normPath(c: Column): Column =
    url_decode(regexp_replace(regexp_replace(c, "^file:/+", "/"), "\\+", "%2B"))

  private[lake] def listParquetFiles(dir: Path): Seq[Path] = {
    if (!Files.exists(dir)) return Nil
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toList
    finally s.close()
  }

  private[lake] def deleteRecursively(dir: Path): Unit = {
    if (!Files.exists(dir)) return
    val s = Files.walk(dir)
    try s.sorted(Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  private[lake] def partitionValuesFromPath(p: Path): Map[String, String] = {
    (0 until p.getNameCount).map(p.getName(_).toString)
      .filter(_.startsWith(PartPrefix))
      .flatMap { seg =>
        val i = seg.indexOf('=')
        if (i < 0) None
        // hive-path escaping leaves '+' unescaped while URLDecoder
        // form-decodes it to a space — pre-escape like normPath does, or
        // a value like "a+b" records as "a b" and pruning drops the file
        else Some(seg.substring(PartPrefix.length, i) ->
          URLDecoder.decode(seg.substring(i + 1).replace("+", "%2B"), "UTF-8"))
      }.toMap
  }
}
