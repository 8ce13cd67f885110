package graft.lake

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, NumericType, StructField, StructType, TimestampType}

final case class RewriteResult(
    table: LakeTable,
    rewrittenDataFiles: Int,
    addedDataFiles: Int,
    removedDeleteFiles: Int)

final case class ExpireResult(
    table: LakeTable,
    expiredSnapshots: Int,
    deletedFiles: Int)

/** Table-maintenance procedures — the reference's `ALTER TABLE … SET
  * TBLPROPERTIES('format-version'='3')` and `CALL rewrite_data_files /
  * expire_snapshots` surface (SURVEY.md §2.9 M1/M2/M3/M7).
  */
object Procedures {

  import LakeTable._

  /** M1: v2→v3 upgrade (/root/reference/internal/upgrade_table.py:128).
    * Metadata-only commit that bumps the format version AND mints
    * `next-row-id` — the field whose absence bricks a v3 table
    * (/root/reference/README.md:41-45). Idempotent when already v3. */
  /** `extraProps` land in the SAME metadata commit as the upgrade, so an
    * ALTER carrying format-version plus other properties is atomic. */
  def upgradeFormatVersion(t: LakeTable, target: Int = 3,
      extraProps: Map[String, String] = Map.empty): LakeTable = {
    val m = t.meta
    if (m.formatVersion == target)
      return if (extraProps.isEmpty) t else t.setProperties(extraProps)
    if (target < m.formatVersion)
      throw new IllegalArgumentException(
        s"cannot downgrade ${m.name} from v${m.formatVersion} to v$target")
    if (target != 3)
      throw new IllegalArgumentException(s"unsupported format version $target")
    val minted = if (m.nextRowId >= 0) m.nextRowId else maxAssignedRowId(t)
    t.withMeta(m.copy(
      formatVersion = 3,
      nextRowId = minted,
      props = m.props ++ extraProps + ("format-version" -> "3")))
  }

  /** M7: "metadata surgery" (/root/reference/README.md:43-45) — recompute
    * and mint `next-row-id` on a v3 table that is missing it. No-op on
    * healthy tables. */
  def repairV3Metadata(t: LakeTable): LakeTable = {
    val m = t.meta
    if (m.formatVersion < 3 || m.nextRowId >= 0) t
    else t.withMeta(m.copy(nextRowId = maxAssignedRowId(t)))
  }

  /** Highest assigned row id + 1 across all snapshots: from per-file
    * firstRowId ranges, plus a footer/column scan over rewritten files
    * that carry `_row_id` physically (those only exist on v3 tables, so
    * this scan runs in the rare repair path). */
  private def maxAssignedRowId(t: LakeTable): Long = {
    val implicitHigh = t.meta.computedNextRowId
    val expl = t.meta.snapshots.flatMap(_.dataFiles)
      .filter(_.explicitRowIds).groupBy(_.path).values.map(_.head).toSeq
      .filter(f => Files.exists(Paths.get(f.path)))
    if (expl.isEmpty) implicitHigh
    else {
      val mx = scanData(t.spark,
        StructType(Seq(StructField(RowIdCol, LongType))), expl)
        .agg(max(col(RowIdCol))).first()
      val explicitHigh = if (mx.isNullAt(0)) 0L else mx.getLong(0) + 1
      math.max(implicitHigh, explicitHigh)
    }
  }

  /** M2: `CALL rewrite_data_files(table, options)` compaction
    * (/root/reference/internal/upgrade_table.py:124,129, README.md:26-29).
    *
    * Options (same names as the reference's `map(...)`):
    *  - `rewrite-all` = "true": rewrite every data file
    *  - `delete-file-threshold` = N: rewrite data files referenced by ≥ N
    *    delete files (default 1 — any file with deletes)
    *  - `target-file-size-bytes`: output sizing (default 128 MiB)
    *  - `sort-order` = "col1,col2": range-partition + sort the rewrite by
    *    these columns, so output files carry disjoint value ranges and
    *    the per-file min/max stats (StatsPruning) skip them surgically
    *    on range predicates — compaction doubles as data clustering
    *
    * Rewritten files have deletes applied and (v3) `_row_id` preserved;
    * delete files whose remaining references all point at rewritten files
    * are dropped. `rewrite-all` therefore leaves zero delete files.
    */
  /** Interleaved-bit z-value over 2–4 numeric/temporal columns — the
    * Morton-curve clustering key `sort-order=zorder(a,b)` compacts on
    * (the Iceberg/Delta Z-ORDER analogue). Each column is min/max-scaled
    * to min(16, 63/k) bits — capped so the key never reaches the Long
    * sign bit — (one extra agg job over the rewrite set at maintenance
    * time, metadata-free), then bits interleave round-robin so
    * nearby z-values are nearby in EVERY dimension. The whole key is
    * built from codegen'd built-ins (cast/shift/bitwise — no UDF in the
    * clustering path). Nulls scale to 0 (clustered together at the
    * curve's origin — locality for null-heavy columns is moot). A
    * constant or all-null column contributes 0 bits, degrading to the
    * remaining dimensions instead of failing the rewrite. Strings are
    * rejected by name: min/max scaling has no meaning for them, and a
    * silent hash would DESTROY locality while claiming to add it — use
    * a plain `sort-order` for lexical clustering. */
  private def zvalue(
      schema: StructType, df: DataFrame, cols: Seq[String]): Column = {
    require(cols.size >= 2 && cols.size <= 4,
      s"zorder takes 2-4 columns, got " +
        s"${cols.size}: use sort-order=<col> for single-column clustering")
    // column resolution is case-insensitive like every other surface
    // (plain sort-order via col(), DML assignments)
    val types = schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val numeric: Seq[Column] = cols.map { c =>
      types.getOrElse(c.toLowerCase, throw new IllegalArgumentException(
        s"zorder: unknown column $c (schema: ${schema.fieldNames.mkString(", ")})")) match {
        case _: NumericType => col(c).cast("double")
        case DateType => col(c).cast("int").cast("double")
        case TimestampType => col(c).cast("double")
        case other => throw new IllegalArgumentException(
          s"zorder column $c is ${other.simpleString}: only numeric/date/" +
            "timestamp columns interleave meaningfully — use a plain " +
            s"sort-order=$c for lexical clustering")
      }
    }
    val k = cols.size
    // keep the interleaved key out of the Long SIGN bit: with 4 columns a
    // full 16 bits would put column 4's top bit at position 63, flipping
    // z-max-corner rows negative and wrapping them BEFORE the origin in
    // the range sort — the wrap-boundary file would then span the full
    // range in every dimension, defeating the skipping this exists for
    val bits = math.min(16, 63 / k)
    val topVal = (1L << bits) - 1
    val statRow = df.agg(
      numeric.flatMap(n => Seq(min(n), max(n))).head,
      numeric.flatMap(n => Seq(min(n), max(n))).tail: _*).head()
    val scaled: Seq[Column] = cols.indices.map { j =>
      if (statRow.isNullAt(2 * j) || statRow.isNullAt(2 * j + 1)) lit(0L)
      else {
        val lo = statRow.getDouble(2 * j)
        val span = statRow.getDouble(2 * j + 1) - lo
        if (!(span > 0) || span.isInfinite) lit(0L)
        else least(greatest(coalesce(
          ((numeric(j) - lo) * (topVal.toDouble / span)).cast("long"), lit(0L)),
          lit(0L)), lit(topVal))
      }
    }
    (for (bit <- 0 until bits; j <- 0 until k) yield
      shiftleft(shiftright(scaled(j), bit).bitwiseAND(lit(1L)), bit * k + j))
      .reduce(_ bitwiseOR _)
  }

  def rewriteDataFiles(
      t: LakeTable,
      options: Map[String, String] = Map.empty): RewriteResult = {
    val spark = t.spark
    val rewriteAll = options.get("rewrite-all").contains("true")
    val threshold = options.get("delete-file-threshold").map(_.toInt).getOrElse(1)
    val targetBytes = options.get("target-file-size-bytes").map(_.toLong)
      .getOrElse(128L * 1024 * 1024)

    val posFiles = t.deleteFiles.filter(_.kind == "position")
    val dvFiles = t.deleteFiles.filter(_.kind == "dv")
    val eqFiles = t.deleteFiles.filter(_.kind == "equality")

    // (delete file, referenced data file) pairs — metadata-scale, read on
    // the driver from the `file_path` column of the (small) delete files
    // only, no Spark job. DV rows name their target file directly (M37),
    // no bitmap decode needed here.
    val hadoopConf = spark.sessionState.newHadoopConf()
    val refs: Seq[(String, String)] = (posFiles ++ dvFiles).flatMap { df =>
      DeleteVectors.targets(hadoopConf, df.path).toSeq.map(df.path -> _)
    }

    // Indexed once (VERDICT r4 #4): per-file lookups below are O(1)/O(log n)
    // instead of a linear scan per data file — a 100k-file table with a
    // heavy delete history stays linear driver-side.
    val posRefCounts: Map[String, Int] =
      refs.groupBy(_._2).view.mapValues(_.size).toMap
    val eqSeqsSorted: Array[Long] = eqFiles.map(_.dataSequenceNumber).sorted.toArray
    def eqCountAbove(seq: Long): Int = {
      var lo = 0; var hi = eqSeqsSorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (eqSeqsSorted(mid) <= seq) lo = mid + 1 else hi = mid
      }
      eqSeqsSorted.length - lo
    }
    def associatedDeleteFiles(f: DataFileMeta): Int =
      posRefCounts.getOrElse(f.path, 0) + eqCountAbove(f.dataSequenceNumber)

    // `where` scopes the candidate set to files that MIGHT contain
    // matching rows (partition pruning ∩ footer-stats skipping — the
    // same conservative translation native scans use, via
    // SourceFilters): partition-targeted maintenance on a 100 TB table
    // compacts last week's partitions without touching the other 99%.
    // Conservative is the only sound direction — an over-included file
    // is just rewritten unnecessarily; excluded files are untouched and
    // keep their delete files below.
    val (candidates, outOfScope) = options.get("where") match {
      case None => (t.dataFiles, Nil)
      case Some(w) =>
        t.dataFiles.partition(SourceFilters.scopePredicate(t, w))
    }
    val (rewriteSet, keepThresh) =
      if (rewriteAll) (candidates, Nil)
      else candidates.partition(f => associatedDeleteFiles(f) >= threshold)
    val keep = keepThresh ++ outOfScope
    if (rewriteSet.isEmpty)
      return RewriteResult(t, 0, 0, 0)

    val keepIds = t.meta.formatVersion >= 3
    val live = t.readLiveFiles(rewriteSet, withRowIds = keepIds)
    val outCols = t.schema.fieldNames.map(col) ++
      (if (keepIds) Seq(col(RowIdCol)) else Nil)
    val totalBytes = rewriteSet.map(_.sizeBytes).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val projected = live.select(outCols: _*)
    val ZOrderSpec = """(?i)zorder\s*\((.+)\)""".r
    val compacted = options.get("sort-order") match {
      case None => projected.repartition(nOut)
      case Some(ZOrderSpec(zspec)) =>
        // z-order clustering: range-partition + sort on the interleaved
        // z-value, so EVERY listed column gets localized per-file bounds
        // (a lexical sort localizes only the leading column; trailing
        // columns span the full range in every file and stats can never
        // skip on them)
        val zcols = zspec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val z = zvalue(t.schema, projected, zcols)
        val zCol = "__graft_z"
        projected.withColumn(zCol, z)
          .repartitionByRange(nOut, col(zCol))
          .sortWithinPartitions(col(zCol))
          .drop(zCol)
      case Some(spec) =>
        val sortCols = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        projected
          .repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
    }

    val seq = t.meta.lastSequenceNumber + 1
    val newData =
      if (keepIds) t.writeDataFiles(compacted, -1L, seq, withRowIdCol = true,
        layoutManaged = true)
      else t.writeDataFiles(compacted, t.meta.computedNextRowId, seq,
        layoutManaged = true)

    val keptPaths = keep.map(_.path).toSet
    val refsBySrc: Map[String, Seq[String]] =
      refs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val keptPos = (posFiles ++ dvFiles).filter(df =>
      refsBySrc.getOrElse(df.path, Nil).exists(keptPaths.contains))
    val keptEq = eqFiles.filter(ef =>
      keep.exists(f => f.dataSequenceNumber < ef.dataSequenceNumber))
    val keptDeletes = keptPos ++ keptEq

    // stamped by the table's clock (VERDICT r3 wrong #4): a wall-clock
    // compaction snapshot would sort out of order against fixture-clock
    // commits and be misclassified by expire_snapshots cutoffs
    val snap = t.newSnapshot("replace", keep ++ newData, keptDeletes,
      Map(
        "rewritten-data-files" -> rewriteSet.size.toString,
        "added-data-files" -> newData.size.toString,
        "removed-delete-files" -> (t.deleteFiles.size - keptDeletes.size).toString))
    val table = t.commitSnapshot(snap)
    RewriteResult(table, rewriteSet.size, newData.size,
      t.deleteFiles.size - keptDeletes.size)
  }

  /** Default orphan age cutoff: 3 days, Iceberg's own default — well
    * beyond any plausible commit duration. */
  val DefaultOrphanAgeMs: Long = 3L * 24 * 60 * 60 * 1000

  /** Remove parquet files under the table's data/deletes directories that
    * no snapshot references — leftovers of crashed or aborted commits
    * (Iceberg's `remove_orphan_files`). Metadata-scale: a directory walk
    * diffed against the snapshot log; the metadata dir is never touched.
    *
    * Two guards against racing concurrent writers (ADVICE r4): the
    * reference set comes from a fresh metadata reload (a commit that
    * landed after this handle loaded is not "orphan"), and only files
    * whose filesystem mtime predates `olderThanMs` are deleted — an
    * in-flight write between writeDataFiles and Meta.commit is young and
    * survives, exactly why Iceberg's procedure requires an age cutoff. */
  def removeOrphanFiles(
      t: LakeTable,
      olderThanMs: Long = System.currentTimeMillis() - DefaultOrphanAgeMs): Int = {
    val cur = t.reloaded()
    val referenced = cur.meta.snapshots.flatMap(s =>
      s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
    val candidates = listParquetFiles(t.location.resolve("data")) ++
      listParquetFiles(t.location.resolve("deletes"))
    val orphans = candidates.filter(p =>
      !referenced.contains(p.toString) &&
        Files.getLastModifiedTime(p).toMillis < olderThanMs)
    orphans.foreach(Files.deleteIfExists(_))
    // commit-protocol tmp files (.vN-uuid.tmp / .version-hint.*.tmp) are
    // left behind only by a writer dying mid-commit; invisible to every
    // reader (dot-files, never matched as version files) but swept here
    // for hygiene once past the same age bar
    val metaDir = Meta.metadataDir(t.location)
    val tmps =
      if (!Files.isDirectory(metaDir)) Nil
      else {
        val s = Files.list(metaDir)
        try s.iterator().asScala.toList.filter { p =>
          val n = p.getFileName.toString
          n.startsWith(".") && n.endsWith(".tmp") &&
            Files.getLastModifiedTime(p).toMillis < olderThanMs
        } finally s.close()
      }
    tmps.foreach(Files.deleteIfExists(_))
    // orphaned manifest/segment files (r10): a writer dying between
    // writing its manifests and winning the version-file race leaks
    // them (the LOSING path cleans up; a crash cannot). Keep-set =
    // every manifest any EXISTING metadata version references — so a
    // concurrent reader holding an old version keeps its manifests —
    // age-gated like the tmp sweep.
    val manifestOrphans =
      if (!Files.isDirectory(metaDir)) Nil
      else {
        val referenced = Meta.referencedManifestFiles(t.location)
        val s = Files.list(metaDir)
        try s.iterator().asScala.toList.filter { p =>
          val n = p.getFileName.toString
          (n.startsWith("manifest-") || n.startsWith("segment-")) &&
            n.endsWith(".json") && !referenced.contains(p.toString) &&
            Files.getLastModifiedTime(p).toMillis < olderThanMs
        } finally s.close()
      }
    manifestOrphans.foreach(Files.deleteIfExists(_))
    orphans.size + tmps.size + manifestOrphans.size
  }

  /** Iceberg's `rewrite_position_delete_files`: fold the table's live
    * position-scoped delete files (classic parquet and deletion
    * vectors) into one freshly-written set in the table's current
    * `write.delete.format`. Returns (table, consolidated, written). */
  /** M38 `CALL add_files(table, source)` — shared by both SQL surfaces
    * (dispatcher and native DSv2 CALL) so dir-vs-file resolution and the
    * result contract can't drift. `source` is one parquet file or a
    * directory walked recursively. Returns (table, files added, rows
    * added — from footer counts, nothing scanned). */
  def addFiles(t: LakeTable, source: String): (LakeTable, Int, Long) = {
    val src = java.nio.file.Paths.get(source)
    val files =
      if (java.nio.file.Files.isDirectory(src)) LakeTable.listParquetFiles(src)
      else Seq(src)
    val t2 = t.addFiles(files)
    val added = t2.currentSnapshot
      .flatMap(_.summary.get("added-records")).map(_.toLong).getOrElse(0L)
    (t2, files.size, added)
  }

  /** Iceberg's `snapshot` procedure, path-source form: CREATE a new lake
    * table with the schema read from the source's parquet footers, then
    * adopt every file metadata-only (M38 add_files) — zero-copy
    * onboarding of an external dataset as a governed table in ONE call.
    * File ownership stays external (DROP TABLE / orphan GC never delete
    * adopted files), so the source remains intact — the non-destructive
    * sibling of a `migrate`. The schema comes from the FIRST file's
    * footer; add_files then gates every file individually against it, so
    * a heterogeneous directory fails loudly per file, never silently
    * projecting columns away. */
  def snapshotTable(cat: LakeCatalog, db: String, table: String,
      source: String): (LakeTable, Int, Long) = {
    val src = java.nio.file.Paths.get(source)
    val files =
      if (java.nio.file.Files.isDirectory(src)) LakeTable.listParquetFiles(src)
      else Seq(src)
    if (files.isEmpty) throw new IllegalArgumentException(
      s"snapshot: no parquet files under $source")
    val conf = cat.spark.sessionState.newHadoopConf()
    val schema = StatsPruning.readFooter(conf, files.head,
      new org.apache.spark.sql.types.StructType()).schema
    val t = cat.createTable(db, table, schema)
    addFiles(t, source)
  }

  def rewritePositionDeleteFiles(t: LakeTable): (LakeTable, Int, Int) =
    t.consolidatePositionDeletes()

  /** M3: `CALL expire_snapshots(table, older_than, retain_last)`
    * (/root/reference/README.md:33-38). Drops snapshots older than the
    * cutoff — always retaining the current snapshot and the most recent
    * `retainLast` — then garbage-collects files referenced only by the
    * expired snapshots. */
  def expireSnapshots(
      t: LakeTable,
      olderThanMs: Long,
      retainLast: Int = 1): ExpireResult = {
    val m = t.meta
    val ordered = m.snapshots.sortBy(_.id)
    val retainedIds = ordered.takeRight(math.max(retainLast, 1)).map(_.id).toSet +
      m.currentSnapshotId ++ m.tags.values ++
      m.branches.values // tagged snapshots and branch heads never expire
    val (expired, kept) = ordered.partition(s =>
      s.timestampMs < olderThanMs && !retainedIds.contains(s.id))
    if (expired.isEmpty) return ExpireResult(t, 0, 0)

    val liveFiles = kept.flatMap(s =>
      s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
    val deadFiles = expired.flatMap(s =>
      s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path)).toSet -- liveFiles

    // Commit the trimmed snapshot list FIRST (ADVICE r4): the CAS inside
    // Meta.commit proves this handle is current before anything
    // irreversible happens — a stale handle throws CommitConflictException
    // here with zero files touched, instead of deleting manifests the
    // still-current metadata references.
    val table = t.withMeta(m.copy(snapshots = kept))
    // GC only files the table OWNS (under its directory). Files adopted
    // by add_files live outside it and belong to whoever put them there:
    // once compaction/overwrite supersedes an adopted file, expiry would
    // otherwise delete the user's external source parquet — permanent
    // loss of data the table never owned.
    val loc = t.location.toAbsolutePath
    val owned = deadFiles.filter(p => Paths.get(p).toAbsolutePath.startsWith(loc))
    owned.foreach(p => Files.deleteIfExists(Paths.get(p)))
    Meta.deleteManifests(expired, kept) // segments shared along lineage (r10)
    ExpireResult(table, expired.size, owned.size)
  }

  /** Iceberg's `rewrite_manifests`: fold the CURRENT snapshot's shared
    * segment list into one freshly-written segment — the explicit lever
    * over the commit path's opportunistic 64-segment coalesce. Run it
    * after a long append chain to collapse read fan-out (a load pays one
    * manifest read per segment); history snapshots keep their manifests
    * untouched, and the superseded top/segments are GC'd reference-
    * counted (shared history segments survive).
    * @return (table, segments before, segments after) */
  def rewriteManifests(t: LakeTable): (LakeTable, Int, Int) = {
    val m = t.meta
    val cur = m.currentSnapshot.getOrElse(return (t, 0, 0))
    val before = Meta.segmentCount(cur)
    if (before <= 1) return (t, before, before)
    // read the superseded top's segment list BEFORE anything can delete it
    val stale = cur.manifestPath.toSeq.flatMap(Meta.manifestWithSegments)
    val (cur2, fresh) = Meta.coalesceManifest(t.location, cur)
    val table =
      try t.withMeta(m.copy(snapshots =
        m.snapshots.map(s => if (s.id == cur.id) cur2 else s)))
      catch { case e: Throwable => Meta.dropManifestFiles(fresh); throw e }
    // The superseded top is dead in the NEW metadata, but every OLDER
    // vN.metadata.json still names it as this (still-live) snapshot's
    // manifest — eager deletion gave a concurrent reader holding the
    // just-superseded version FileNotFound (ADVICE r10). Delete only what
    // no existing version file references; the rest is reclaimed by the
    // age-gated orphan sweep once version retention retires old versions.
    Meta.deleteUnreferencedManifests(t.location, stale)
    (table, before, 1)
  }

  /** Iceberg's property-driven retention defaults:
    * `history.expire.max-snapshot-age-ms` and
    * `history.expire.min-snapshots-to-keep` supply `expire_snapshots`'
    * defaults when the CALL passes no explicit older_than/retain_last —
    * so a table can carry its own retention policy and a bare
    * maintenance CALL honors it on both SQL surfaces. Without the
    * properties the defaults stay (now, keep 1), the pre-existing
    * behavior. */
  def expireDefaults(t: LakeTable, nowMs: Long): (Long, Int) = (
    t.meta.props.get("history.expire.max-snapshot-age-ms")
      .map(a => nowMs - a.toLong).getOrElse(nowMs),
    t.meta.props.get("history.expire.min-snapshots-to-keep")
      .map(_.toInt).getOrElse(1))

  /** ANALYZE (M50) — the Iceberg-Puffin / `ANALYZE TABLE … COMPUTE
    * STATISTICS` analogue: ONE distributed aggregation over the live
    * table computes per-column NDV (HyperLogLog — sketch-sized state per
    * column, never a distinct shuffle), exact null counts and value byte
    * lengths, stored in table metadata in one commit. The analyzed
    * snapshot id is recorded so staleness is visible, and the planner
    * surface ([[LakeV2Table]]'s `SupportsReportStatistics`) hands the
    * numbers to Spark's CBO for join sizing. Cost model at 100 TB: one
    * full scan with O(columns) sketch state per task — run it after bulk
    * loads, not per query. */
  def analyzeTable(t: LakeTable, columns: Seq[String] = Nil): LakeTable = {
    val schema = t.schema
    def eligible(f: StructField): Boolean = f.dataType match {
      // struct/array/map/variant carry no scalar NDV
      case _: StructType => false
      case _: org.apache.spark.sql.types.ArrayType => false
      case _: org.apache.spark.sql.types.MapType => false
      case dt if dt.typeName == "variant" => false
      case _ => true
    }
    val targets =
      if (columns.isEmpty) schema.fields.toSeq.filter(eligible)
      else columns.map { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"no column $c on ${t.name}"))
        if (!eligible(f)) throw new IllegalArgumentException(
          s"cannot analyze $c: ${f.dataType.sql} has no scalar statistics")
        f
      }
    val snapId = t.currentSnapshot.map(_.id).getOrElse(-1L)
    if (snapId < 0)
      return t.setTableStats(TableStats(snapshotId = -1L, rowCount = 0L))
    def lenCol(f: StructField): Column = f.dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType => octet_length(col(f.name))
      case dt => lit(dt.defaultSize)
    }
    val aggs: Seq[Column] = count(lit(1)).cast(LongType).as("__rc") +:
      targets.flatMap { f =>
        Seq(
          approx_count_distinct(col(f.name)).as(s"__ndv_${f.name}"),
          sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__nulls_${f.name}"),
          avg(lenCol(f)).as(s"__avg_${f.name}"),
          max(lenCol(f)).as(s"__max_${f.name}"))
      }
    val r = t.read().agg(aggs.head, aggs.tail: _*).head()
    def long(name: String): Long =
      if (r.isNullAt(r.fieldIndex(name))) 0L
      else r.get(r.fieldIndex(name)) match {
        case l: Long => l
        case i: Int => i.toLong
        case d: Double => math.round(d)
        case n: Number => n.longValue()
      }
    val cols = targets.map(f => ColumnNdv(
      col = f.name,
      ndv = long(s"__ndv_${f.name}"),
      nulls = long(s"__nulls_${f.name}"),
      avgLen = long(s"__avg_${f.name}"),
      maxLen = long(s"__max_${f.name}")))
    t.setTableStats(TableStats(snapId, long("__rc"), cols))
  }
}
