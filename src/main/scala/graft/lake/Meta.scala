package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Versioned-table metadata model — the Spark-native restatement of the
  * Iceberg v2/v3 metadata the reference manipulates
  * (/root/reference/internal/upgrade_table.py:43-56, README.md:15,43-45).
  *
  * A table = an ordered snapshot log; each snapshot is a full listing of
  * live data files + delete files. Commits are new `vN.metadata.json`
  * files made current by an atomic pointer move (single-writer, like the
  * reference's single-driver model, SURVEY.md §7.4).
  *
  * Scale model (VERDICT r3 missing #1): the metadata JSON holds snapshot
  * *headers* only; each snapshot's file lists live in an immutable
  * per-snapshot manifest file written exactly once at the commit that
  * created the snapshot (the Iceberg manifest analogue —
  * `internal/upgrade_table.py:53`'s `metadata_location` points at the
  * same kind of fixed-size file). Commit cost is O(new snapshot's files
  * + snapshot count), never O(snapshots × files); carried-over snapshots
  * just re-reference their existing manifest path.
  */
/** A commit based on a stale metadata version lost the optimistic-
  * concurrency race: another writer advanced the table since this handle
  * loaded. Reload the table and retry. */
class CommitConflictException(msg: String) extends IllegalStateException(msg)

/** Per-file column bounds lifted from the parquet footer at write time
  * (no data read) — the Iceberg data-skipping analogue. Values are
  * rendered as strings; interpretation is typed by the table schema.
  * Absent entries (complex/decimal/temporal columns, footer stats
  * missing) mean "unknown" and never cause a skip. */
/** Per-file column statistics. `nulls` is the file's null count for the
  * column (-1 = unknown; enables IS NULL / IS NOT NULL file skipping);
  * `bounded = false` marks an entry carrying ONLY a null count — e.g. an
  * all-null column has no min/max but a decisive null count — whose
  * min/max placeholders must never drive range checks. Both fields
  * default for pre-r8 metadata JSON (jackson fills case-class
  * defaults). */
final case class ColStats(
    min: String, max: String, nulls: Long = -1L, bounded: Boolean = true)

final case class DataFileMeta(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    rowCount: Long = 0L,
    sizeBytes: Long = 0L,
    stats: Map[String, ColStats] = Map.empty,
    /** v3 row lineage: first row id in this file; rows are
      * firstRowId .. firstRowId+rowCount-1 in file order. -1 when the file
      * instead carries an explicit `_row_id` column (explicitRowIds). */
    firstRowId: Long = -1L,
    /** Rewritten/updated files persist `_row_id` as a physical column so
      * lineage survives compaction and CoW (row ids must be preserved when
      * rows are copied — Iceberg v3 row-lineage semantics). */
    explicitRowIds: Boolean = false,
    /** Commit order: the sequence number of the snapshot that added this
      * file. Governs which equality deletes apply (strictly-older rule). */
    dataSequenceNumber: Long = 0L)

final case class DeleteFileMeta(
    path: String,
    /** "position" (file_path, pos) or "equality" (equalityCols). */
    kind: String = "position",
    rowCount: Long = 0L,
    equalityCols: Seq[String] = Nil,
    /** Equality deletes apply only to data files with a strictly lower
      * sequence number — a key re-inserted after the delete stays live. */
    dataSequenceNumber: Long = 0L,
    /** On-disk size, recorded at write time; 0 in metadata written before
      * sizes were kept (readers stat the file instead). */
    sizeBytes: Long = 0L)

final case class Snapshot(
    id: Long,
    timestampMs: Long,
    operation: String,
    dataFiles: Seq[DataFileMeta] = Nil,
    deleteFiles: Seq[DeleteFileMeta] = Nil,
    summary: Map[String, String] = Map.empty,
    sequenceNumber: Long = 0L,
    /** Snapshot this commit was based on (-1 = table-initial). With
      * branches the snapshot LOG is not a lineage — main and branch
      * commits interleave — so history-following consumers (incremental
      * reads, the streaming source) walk this parent chain instead. */
    parentId: Long = -1L,
    /** Path of this snapshot's immutable manifest file. None only for
      * snapshots built in memory and not yet committed; Meta.commit
      * assigns it and strips the inline lists from the persisted JSON. */
    manifestPath: Option[String] = None)

/** Iceberg v3 column defaults (spec: `initial-default` /
  * `write-default`). `initial` is the value old rows — written before
  * the column existed — read back as; `write` fills the column when a
  * writer omits it. Both are literals RENDERED AS STRINGS (applied via
  * `lit(v).cast(columnType)`), fixed at DDL time, never re-evaluated.
  * `addedSeq` is the commit-sequence watermark separating pre-column
  * data files (dataSequenceNumber < addedSeq → initial-default applies)
  * from post-column files (physical value wins, explicit NULL included)
  * — equivalent to Iceberg's per-file field-id presence test, because
  * writers always emit the full schema once the column exists. */
final case class ColumnDefault(
    colName: String,
    initial: Option[String] = None,
    write: Option[String] = None,
    addedSeq: Long = 0L)

/** One metadata-only schema-evolution step (M48): a column RENAME or a
  * type WIDENING, stamped with the commit sequence the DDL landed at.
  * Iceberg does this with immutable field ids; this engine's parquet
  * files are name-keyed, so the log IS the id: a file whose
  * dataSequenceNumber predates an entry carries the OLD physical
  * name/type, and readers derive each file's physical schema by running
  * the current schema BACKWARD through entries newer than the file
  * (newest-first, so chained renames a→b→c compose). Entries are
  * append-only — rewriting history would orphan the files that encode
  * it.
  *
  *  - kind "rename": `col` = the name AFTER the step, `from` = before.
  *  - kind "widen":  `col` = the column's name AT the step, `from` =
  *    the prior type's DDL string (e.g. "INT"); the current schema
  *    already holds the widened type. */
final case class SchemaChange(
    kind: String,
    col: String,
    from: String,
    seq: Long)

/** Per-column table-level statistics from the last ANALYZE (M50) — the
  * Iceberg-Puffin/`ANALYZE TABLE` analogue. `ndv` is an HLL estimate;
  * `nulls` is exact; `avgLen`/`maxLen` are value byte lengths (strings/
  * binary measured, fixed-width types by size). */
final case class ColumnNdv(
    col: String,
    ndv: Long,
    nulls: Long,
    avgLen: Long,
    maxLen: Long)

/** One ANALYZE run's output. `snapshotId` records WHAT state was
  * analyzed — readers can see staleness instead of guessing. */
final case class TableStats(
    snapshotId: Long,
    rowCount: Long,
    columns: Seq[ColumnNdv] = Nil)

/** The file lists of one snapshot, persisted once as an immutable
  * per-snapshot manifest (the Iceberg-manifest analogue).
  *
  * Two shapes share this class (r10 segment sharing — Iceberg's
  * manifest-list/manifest-reuse design):
  *  - a SEGMENT: inline `dataFiles`/`deleteFiles`, empty `segments` —
  *    one immutable chunk of entries, written once, referenced by any
  *    number of snapshots (pre-r10 manifests are exactly this shape, so
  *    a legacy parent manifest is reusable as a child's segment as-is);
  *  - a TOP manifest: empty inline lists, `segments` naming the chunk
  *    files whose concatenation (in order) is the snapshot's full lists.
  * Before sharing, EVERY commit persisted the complete live file list —
  * O(live files) bytes per append; a 1M-file table paid ~50 MB per
  * commit. Now an append writes its DELTA as one new segment and
  * re-references the parent's surviving segments by path: commit cost is
  * O(delta + segment count), the property the metadata JSON already had
  * for headers. */
final case class ManifestData(
    dataFiles: Seq[DataFileMeta] = Nil,
    deleteFiles: Seq[DeleteFileMeta] = Nil,
    segments: Seq[String] = Nil)

final case class TableMetadata(
    name: String,
    /** "LAKE" for our Iceberg-like tables; anything else is skipped by the
      * upgrade driver (table_type filter, upgrade_table.py:51,117). */
    tableType: String = "LAKE",
    formatVersion: Int = 2,
    schemaDdl: String = "",
    partitionCols: Seq[String] = Nil,
    props: Map[String, String] = Map.empty,
    snapshots: Seq[Snapshot] = Nil,
    currentSnapshotId: Long = -1L,
    /** v3 row-lineage high-water mark. -1 = not minted (a v3 table with
      * -1 is "bricked" exactly like README.md:43-45 describes; see
      * Procedures.repairV3Metadata). */
    nextRowId: Long = -1L,
    lastSequenceNumber: Long = 0L,
    grants: Map[String, Seq[String]] = Map.empty,
    /** Named snapshot refs (Iceberg tags): tag name → snapshot id.
      * Tagged snapshots are protected from expire_snapshots. */
    tags: Map[String, Long] = Map.empty,
    /** WRITABLE refs (Iceberg branches): branch name → head snapshot id.
      * A branch-scoped handle ([[LakeTable.onBranch]]) commits snapshots
      * that advance the branch pointer while `currentSnapshotId` (main)
      * stays put — the write-audit-publish pattern. Branch heads are
      * expiry-protected like tags. */
    branches: Map[String, Long] = Map.empty,
    /** v3 column defaults, one entry per defaulted column (M46). */
    columnDefaults: Seq[ColumnDefault] = Nil,
    /** Metadata-only rename/widen log (M48), oldest first. Empty for
      * every pre-M48 table (jackson fills the default). */
    schemaChanges: Seq[SchemaChange] = Nil,
    /** Last ANALYZE output (M50); None until the procedure runs. */
    tableStats: Option[TableStats] = None) {

  def currentSnapshot: Option[Snapshot] =
    snapshots.find(_.id == currentSnapshotId)

  def schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)

  /** Highest row id ever assigned + 1, recomputed from file metadata
    * (used when minting/repairing `nextRowId`). */
  def computedNextRowId: Long = {
    val ids = snapshots.flatMap(_.dataFiles).filter(_.firstRowId >= 0)
    if (ids.isEmpty) 0L else ids.map(f => f.firstRowId + f.rowCount).max
  }
}

/** JSON persistence + atomic pointer commit for table metadata. */
object Meta {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Manifests are immutable once written (content-addressed by a UUID in
    * the name, never rewritten), so a process-wide cache makes repeated
    * table loads O(metadata JSON) instead of O(files); entries are evicted
    * when expire_snapshots GCs the manifest. At cluster scale this is the
    * planner's manifest cache; memory is bounded by live manifests. */
  private val manifestCache =
    new scala.collection.concurrent.TrieMap[String, ManifestData]()

  /** The single-winner publish primitive commits route through — swap
    * for a conditional-put implementation on S3-class stores (see
    * [[CommitArbiter]] for the contract and per-store mapping). Process-
    * wide: arbitration is a property of the storage, not of a table. */
  @volatile var arbiter: CommitArbiter = LocalFsCommitArbiter

  def toJson(m: TableMetadata): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(m)

  def fromJson(s: String): TableMetadata = {
    val m = mapper.readValue(s, classOf[TableMetadata])
    // Jackson + erased Map[String, Long] yields boxed Integers for small
    // ids at runtime — normalize here, or every tag/branch consumer on a
    // RELOADED handle (onBranch, VERSION AS OF, expiry
    // protection) hits ClassCastException the moment an id fits in 32 bits
    def longs(xs: Map[String, Long]): Map[String, Long] =
      xs.asInstanceOf[Map[String, Any]].map { case (k, v) =>
        k -> v.asInstanceOf[Number].longValue
      }
    val normalized = m.copy(tags = longs(m.tags), branches = longs(m.branches))
    // Pre-parentId metadata (all snapshots deserialize as lineage roots):
    // such history IS linear by construction — parent pointers and the
    // branches that need them landed together — so repair it to the
    // id-order chain the old code walked. Without this, every incremental
    // range and checkpointed stream over a pre-upgrade table would fail
    // "not an ancestor". Mixed metadata (any snapshot with a parent) is
    // post-upgrade and left untouched.
    if (normalized.snapshots.size > 1 &&
        normalized.snapshots.forall(_.parentId == -1L)) {
      val ordered = normalized.snapshots.sortBy(_.id)
      val parented = ordered.head +: ordered.sliding(2).map {
        case Seq(prev, s) => s.copy(parentId = prev.id)
      }.toSeq
      normalized.copy(snapshots = parented)
    } else normalized
  }

  def metadataDir(tableLocation: Path): Path = tableLocation.resolve("metadata")
  private def versionFile(tableLocation: Path, v: Int): Path =
    metadataDir(tableLocation).resolve(s"v$v.metadata.json")
  private def hintFile(tableLocation: Path): Path =
    metadataDir(tableLocation).resolve("version-hint.text")

  def currentVersion(tableLocation: Path): Option[Int] = {
    val hint = hintFile(tableLocation)
    if (Files.exists(hint))
      Some(new String(Files.readAllBytes(hint), StandardCharsets.UTF_8).trim.toInt)
    else None
  }

  def load(tableLocation: Path): Option[TableMetadata] =
    loadHeaders(tableLocation).map(m =>
      m.copy(snapshots = m.snapshots.map(materialize)))

  /** Header-only load: snapshot file lists stay unmaterialized (empty,
    * with `manifestPath` set). Catalog listings, format-version lookups
    * and grants checks never plan a scan, so they must not pay a
    * manifest read per snapshot — a 1000-table namespace listing is then
    * O(tables) small-JSON reads. Re-committing a header-only metadata is
    * safe: commit only writes manifests for snapshots *without* a path. */
  def loadHeaders(tableLocation: Path): Option[TableMetadata] =
    currentVersion(tableLocation).map { v =>
      fromJson(new String(
        Files.readAllBytes(versionFile(tableLocation, v)), StandardCharsets.UTF_8))
    }

  private def readManifest(p: String): ManifestData =
    manifestCache.getOrElseUpdate(p, mapper.readValue(
      new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8),
      classOf[ManifestData]))

  private[lake] def materialize(s: Snapshot): Snapshot = s.manifestPath match {
    case None => s // pre-manifest metadata: lists are inline
    case Some(p) =>
      val top = readManifest(p)
      // segment order then inline order IS the list order; segments are
      // pure-inline by construction (one level, never nested)
      val segs = top.segments.map(readManifest)
      s.copy(
        dataFiles = segs.flatMap(_.dataFiles) ++ top.dataFiles,
        deleteFiles = segs.flatMap(_.deleteFiles) ++ top.deleteFiles)
  }

  /** Commit: write one manifest per NEW snapshot (carried-over snapshots
    * keep their existing manifest), write vN+1 metadata holding snapshot
    * headers only, then atomically swing the pointer. Returns the
    * committed metadata with manifest paths assigned — callers must adopt
    * it so later commits from the same in-memory table don't re-persist
    * old snapshots' file lists. Fails if a concurrent commit won the
    * pointer race (optimistic, single-writer expected).
    *
    * `expectedVersion` is the optimistic-concurrency guard (Iceberg's
    * atomic-swap rule): when set, the commit refuses unless the table is
    * still at that metadata version — a handle that loaded v5 cannot
    * silently base v7 on stale state after another writer landed v6
    * (lost update). Callers catch [[CommitConflictException]], reload,
    * and retry. */
  def commit(
      tableLocation: Path,
      m: TableMetadata,
      expectedVersion: Option[Int] = None): TableMetadata = {
    val dir = metadataDir(tableLocation)
    Files.createDirectories(dir)
    val base = currentVersion(tableLocation).getOrElse(0)
    expectedVersion.filter(_ != base).foreach { v =>
      throw new CommitConflictException(
        s"stale table handle: loaded at metadata v$v but the table is " +
          s"now at v$base — reload the table and retry the operation")
    }
    val next = base + 1
    val target = versionFile(tableLocation, next)
    // fast path only — the authoritative arbiter is the CREATE_NEW write
    // below (two racing writers can both pass this check AND both pass
    // the expectedVersion check; exactly one may own the version file)
    if (Files.exists(target)) {
      adoptOrphans(tableLocation)
      throw new CommitConflictException(
        s"concurrent commit detected: $target already exists — reload " +
          "the table and retry")
    }
    val freshManifests = scala.collection.mutable.ArrayBuffer.empty[Path]
    def writeManifestFile(prefix: String, id: Long, data: ManifestData): String = {
      val mp = dir.resolve(s"$prefix-$id-${java.util.UUID.randomUUID()}.json")
      Files.write(mp, mapper.writeValueAsString(data)
        .getBytes(StandardCharsets.UTF_8))
      manifestCache.put(mp.toString, data)
      freshManifests += mp
      mp.toString
    }
    // Segment sharing (r10): a new snapshot re-references every parent
    // segment whose entries all survive UNCHANGED (value equality — an
    // operation that re-stamps a file's metadata under the same path must
    // not serve stale entries through a reused segment) and writes only
    // its residual as one new segment — append cost O(delta), not
    // O(live files). Past SegmentCap segments the lists fold into one
    // fresh segment (amortized O(live/cap) per commit), bounding both
    // segment count and the per-load read fan-out. Parents assigned
    // earlier in this same commit batch resolve through `assigned`.
    val assigned = scala.collection.mutable.Map.empty[Long, String]
    val withManifests = m.copy(snapshots = m.snapshots.map { s =>
      if (s.manifestPath.isDefined) { assigned(s.id) = s.manifestPath.get; s }
      else {
        val parentTop = assigned.get(s.parentId)
          .orElse(m.snapshots.find(_.id == s.parentId).flatMap(_.manifestPath))
        val parentSegs: Seq[String] = parentTop.toSeq.flatMap { p =>
          val t = readManifest(p)
          if (t.segments.nonEmpty) t.segments
          // a legacy pure-inline manifest is itself a valid segment
          else if (t.dataFiles.nonEmpty || t.deleteFiles.nonEmpty) Seq(p)
          else Nil
        }
        val dataBy = s.dataFiles.map(f => f.path -> f).toMap
        val delBy = s.deleteFiles.map(d => d.path -> d).toMap
        val kept = parentSegs.filter { sp =>
          val seg = readManifest(sp)
          seg.dataFiles.forall(f => dataBy.get(f.path).contains(f)) &&
            seg.deleteFiles.forall(d => delBy.get(d.path).contains(d))
        }
        val covered = kept.map(readManifest)
        val coveredData = covered.flatMap(_.dataFiles.map(_.path)).toSet
        val coveredDel = covered.flatMap(_.deleteFiles.map(_.path)).toSet
        val deltaData = s.dataFiles.filterNot(f => coveredData.contains(f.path))
        val deltaDel = s.deleteFiles.filterNot(d => coveredDel.contains(d.path))
        val segsForTop =
          if (kept.size >= SegmentCap)
            Seq(writeManifestFile("segment", s.id,
              ManifestData(s.dataFiles, s.deleteFiles)))
          else if (deltaData.nonEmpty || deltaDel.nonEmpty)
            kept :+ writeManifestFile("segment", s.id,
              ManifestData(deltaData, deltaDel))
          else kept
        val mp = writeManifestFile("manifest", s.id,
          ManifestData(segments = segsForTop))
        assigned(s.id) = mp
        s.copy(manifestPath = Some(mp))
      }
    })
    val headersOnly = withManifests.copy(snapshots =
      withManifests.snapshots.map(_.copy(dataFiles = Nil, deleteFiles = Nil)))
    // Publication routes through the pluggable [[CommitArbiter]] (the
    // object-store seam, VERDICT r10 #4): the arbiter's single job is
    // "exactly one writer owns the vN+1 slot, readers never see a torn
    // file". The default [[LocalFsCommitArbiter]] publishes via
    // write-to-tmp + hard-link (atomic, fails-if-taken — the TOCTOU-free
    // arbitration CREATE_NEW gave, plus torn writes tear only a private
    // tmp so adoptOrphans can trust any version file it finds; ADVICE
    // r6). An S3-class deployment swaps in a conditional-put arbiter —
    // see CommitArbiter.scala for the store-by-store mapping. Any
    // environmental failure cleans up this commit's files and rethrows
    // (review r7: a non-EEXIST error must not leak tmp + manifests).
    val bytes = toJson(headersOnly).getBytes(StandardCharsets.UTF_8)
    def loserCleanup(): Unit =
      // the loser's freshly written manifests would otherwise orphan
      freshManifests.foreach { mp =>
        manifestCache.remove(mp.toString); Files.deleteIfExists(mp)
      }
    val won =
      try arbiter.publish(target, bytes)
      catch {
        case scala.util.control.NonFatal(e) =>
          loserCleanup()
          throw e
      }
    if (!won) {
      loserCleanup()
      adoptOrphans(tableLocation)
      throw new CommitConflictException(
        s"concurrent commit detected: metadata v$next was written by " +
          "another writer during this commit — reload the table and retry")
    }
    val tmp = dir.resolve(s".version-hint.$next.tmp")
    Files.write(tmp, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, hintFile(tableLocation), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // Metadata version retention (Iceberg's
    // `write.metadata.delete-after-commit.enabled` +
    // `write.metadata.previous-versions-max`, default 100): without it a
    // busy table accumulates one full metadata JSON per commit forever —
    // millions of commits at 100 TB scale is millions of small files in
    // one directory. Opt-in like Iceberg (time travel through RETAINED
    // SNAPSHOTS is unaffected — snapshots live in the current metadata;
    // only superseded version FILES retire). Retiring a version is also
    // what lets the age-gated orphan sweep reclaim manifests that a
    // rewrite superseded: the keep-set in referencedManifestFiles shrinks
    // exactly when a version file disappears. Best-effort: a failed
    // delete never fails the committed commit.
    if (m.props.get("write.metadata.delete-after-commit.enabled")
        .contains("true")) {
      val keep = m.props.get("write.metadata.previous-versions-max")
        .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(100).max(1)
      var v = next - keep - 1
      while (v >= 1 && Files.exists(versionFile(tableLocation, v))) {
        try Files.deleteIfExists(versionFile(tableLocation, v))
        catch { case scala.util.control.NonFatal(_) => }
        v -= 1
      }
    }
    withManifests
  }

  /** Recovery from a writer that died between publishing the metadata
    * version file and the hint move: the vN+1 file exists durably but the
    * hint still names vN, so every later commit computes next = N+1,
    * finds the orphan, and conflicts forever — a bricked table. Both
    * conflict paths call this to advance the hint to the highest existing
    * version file; the dead writer's commit becomes current (it WAS
    * durably written — this is write-ahead recovery, not data
    * invention), the thrower's reload-retry then lands on top. Racing a
    * LIVE writer about to move its own hint is safe: both move to the
    * same value, and a rare interleaving that briefly regresses the
    * hint self-heals on the next commit attempt (which finds the newer
    * orphan and re-advances).
    *
    * Adoption is parse-gated (ADVICE r6 medium): the candidate must round
    * -trip through [[fromJson]] before the hint moves. Our own writer can
    * no longer leave a torn version file (commit publishes via hard-link
    * from a fully-written tmp), but an external or pre-fix writer could;
    * adopting garbage would flip a conflict-forever table (reads at vN
    * still fine) into a nothing-works table (every load parse-fails).
    * Unparseable latest ⇒ skip adoption, keep throwing the conflict. */
  private def adoptOrphans(tableLocation: Path): Unit = {
    val dir = metadataDir(tableLocation)
    val VFile = """v(\d+)\.metadata\.json""".r
    val latest = {
      val s = Files.list(dir)
      try {
        var best = 0
        val it = s.iterator()
        while (it.hasNext) {
          it.next().getFileName.toString match {
            case VFile(n) => best = math.max(best, n.toInt)
            case _ =>
          }
        }
        best
      } finally s.close()
    }
    if (currentVersion(tableLocation).getOrElse(0) < latest) {
      val parses = try {
        fromJson(new String(Files.readAllBytes(
          versionFile(tableLocation, latest)), StandardCharsets.UTF_8))
        true
      } catch { case scala.util.control.NonFatal(_) => false }
      if (parses) {
        // Unique tmp per adopter: concurrent losers adopting the same
        // version must not share a tmp path (the slower one's move would
        // throw NoSuchFileException — a non-conflict exception escaping a
        // retry loop, ADVICE r6). And if the move itself still fails,
        // degrade to no-op: another adopter advancing the hint already
        // achieved the goal.
        val tmp = dir.resolve(
          s".version-hint.adopt.${java.util.UUID.randomUUID()}.tmp")
        try {
          Files.write(tmp, latest.toString.getBytes(StandardCharsets.UTF_8))
          Files.move(tmp, hintFile(tableLocation),
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        } catch {
          case scala.util.control.NonFatal(_) => Files.deleteIfExists(tmp)
        }
      }
    }
  }

  /** Segment-count cap per snapshot: past it, commit folds the full
    * lists into one fresh segment. Trades a periodic O(live) write for
    * bounded read fan-out — the same dial as Iceberg's
    * `rewrite_manifests`, applied opportunistically. */
  private val SegmentCap = 64

  /** Segment count of a snapshot's manifest (1 for legacy inline). */
  private[lake] def segmentCount(s: Snapshot): Int =
    s.manifestPath.map { p =>
      val t = readManifest(p)
      if (t.segments.nonEmpty) t.segments.size else 1
    }.getOrElse(0)

  /** Explicit manifest coalescing (the `rewrite_manifests` procedure,
    * M2-adjacent): fold a snapshot's lists into ONE fresh segment + top.
    * Pure file writes — the caller commits the returned snapshot and
    * GCs the old manifest via [[deleteManifests]]; on a failed commit it
    * deletes the returned fresh paths (they are unreferenced). */
  private[lake] def coalesceManifest(
      tableLocation: Path, s: Snapshot): (Snapshot, Seq[String]) = {
    val dir = metadataDir(tableLocation)
    Files.createDirectories(dir)
    def write(prefix: String, data: ManifestData): String = {
      val mp = dir.resolve(s"$prefix-${s.id}-${java.util.UUID.randomUUID()}.json")
      Files.write(mp, mapper.writeValueAsString(data)
        .getBytes(StandardCharsets.UTF_8))
      manifestCache.put(mp.toString, data)
      mp.toString
    }
    val seg = write("segment", ManifestData(s.dataFiles, s.deleteFiles))
    val top = write("manifest", ManifestData(segments = Seq(seg)))
    (s.copy(manifestPath = Some(top)), Seq(seg, top))
  }

  private[lake] def dropManifestFiles(paths: Seq[String]): Unit =
    paths.foreach { p =>
      manifestCache.remove(p); Files.deleteIfExists(Paths.get(p))
    }

  /** A top manifest plus its segment list (best effort — a missing or
    * torn top contributes just itself). */
  private[lake] def manifestWithSegments(top: String): Seq[String] =
    top +: (try readManifest(top).segments
    catch { case scala.util.control.NonFatal(_) => Nil })

  /** Keep-set-gated manifest GC (ADVICE r10): delete only the candidate
    * paths that NO existing metadata version file references. A snapshot
    * whose manifest was just rewritten is still LIVE, and every older
    * vN.metadata.json names its old manifest — a concurrent reader
    * holding any of those versions must be able to materialize it. The
    * superseded paths that survive here are reclaimed by the age-gated
    * orphan-manifest sweep once version retention retires the old
    * version files. Returns the number of files actually deleted. */
  private[lake] def deleteUnreferencedManifests(
      tableLocation: Path, candidates: Seq[String]): Int = {
    val referenced = referencedManifestFiles(tableLocation)
    val dead = candidates.distinct.filterNot(referenced.contains)
    dead.foreach { p =>
      manifestCache.remove(p); Files.deleteIfExists(Paths.get(p))
    }
    dead.size
  }

  /** Every manifest/segment path any EXISTING metadata version still
    * references — the keep-set for the orphan-manifest sweep. Walks all
    * version files (not just the current one): a concurrent reader may
    * hold any of them, and expiry — not this sweep — is what retires
    * old versions' manifests. Unparseable version files contribute
    * nothing (their manifests are unreachable through them anyway). */
  private[lake] def referencedManifestFiles(tableLocation: Path): Set[String] = {
    val dir = metadataDir(tableLocation)
    if (!Files.isDirectory(dir)) return Set.empty
    val VFile = """v(\d+)\.metadata\.json""".r
    val versions = {
      val s = Files.list(dir)
      try {
        val b = Seq.newBuilder[Path]
        val it = s.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (VFile.findFirstIn(p.getFileName.toString).isDefined) b += p
        }
        b.result()
      } finally s.close()
    }
    versions.flatMap { vf =>
      try {
        val m = fromJson(new String(Files.readAllBytes(vf), StandardCharsets.UTF_8))
        m.snapshots.flatMap(_.manifestPath).flatMap { top =>
          top +: (try readManifest(top).segments
          catch { case scala.util.control.NonFatal(_) => Nil })
        }
      } catch { case scala.util.control.NonFatal(_) => Nil }
    }.toSet
  }

  /** GC hook for expire_snapshots. Top manifests are 1:1 with snapshots,
    * but SEGMENTS are shared along the lineage (r10): a segment (or a
    * legacy manifest doubling as one) is deleted only when no RETAINED
    * snapshot references it. */
  private[lake] def deleteManifests(
      expired: Seq[Snapshot], retained: Seq[Snapshot]): Unit = {
    def segsOf(p: String): Seq[String] =
      try readManifest(p).segments
      catch { case scala.util.control.NonFatal(_) => Nil }
    val retainedTops = retained.flatMap(_.manifestPath)
    val protectedPaths = (retainedTops ++ retainedTops.flatMap(segsOf)).toSet
    expired.foreach { s =>
      s.manifestPath.foreach { p =>
        val segs = segsOf(p) // read BEFORE deleting the top
        (p +: segs.toList).filterNot(protectedPaths.contains).foreach { dp =>
          manifestCache.remove(dp)
          Files.deleteIfExists(Paths.get(dp))
        }
      }
    }
  }
}
