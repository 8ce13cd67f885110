package graft.lake

import java.io.IOException
import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Native row-level DML — `DELETE FROM` / `UPDATE` / `MERGE INTO` typed
  * against the registered DSv2 catalog (`SupportsRowLevelOperations` /
  * `SupportsDelta`; VERDICT r5 next #8, reference statement surface
  * `internal/create_demo_table.py:130-133`).
  *
  * Catalyst rewrites the statement into a WriteDelta plan: the table is
  * scanned through [[LakeRowLevelOperation.newScanBuilder]] (the ordinary
  * MoR-aware scan), each affected row is projected down to its
  * `(_file_path, _pos)` rowId — the physical coordinates the scan exposes
  * as DSv2 metadata columns — and streamed to per-partition
  * [[LakeDeltaWriter]]s:
  *
  *  - DELETEd coordinates land in a position-delete parquet file;
  *  - UPDATEd rows land in a rewrite data file (v3: with their `_row_id`
  *    carried through the scan's metadata projection, preserving
  *    lineage);
  *  - MERGE-inserted rows land in a plain data file whose v3 row-id
  *    range is minted at commit time.
  *
  * Nothing data-scale touches the driver: coordinates and rows flow
  * executor→parquet directly (Spark's own `ParquetWriteSupport` encodes
  * `InternalRow`s, so files are byte-compatible with session writes),
  * and the driver-side [[LakeDeltaBatchWrite.commit]] lands ONE MoR
  * snapshot through the ANALYSIS-TIME handle, so a commit that landed
  * since the scan fails the CAS with CommitConflictException instead of
  * committing deletes against rewritten files (the reason is spelled
  * out on [[LakeDeltaBatchWrite]]). This class serves merge-on-read
  * tables; copy-on-write tables plan through
  * [[LakeCowRowLevelOperation]]. This is the one path for all three
  * statements, whether they arrive as SQL ([[LakeSql.run]] hands them to
  * Spark) or as [[LakeTable.delete]], `update`, `merge` and
  * `mergeClauses`, which build the same row-level commands.
  */
private[lake] class LakeRowLevelOperation(
    target: LakeV2Table, cmd: RowLevelOperation.Command) extends SupportsDelta {

  private val t = target.lakeTable
  private def v3 = t.meta.formatVersion >= 3

  override def command(): RowLevelOperation.Command = cmd

  /** The operation reads through the table's ordinary MoR-aware scan —
    * Spark asks it for the rowId/metadata columns by name. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    target.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    val rowSchema = info.schema()
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite
          with RequiresDistributionAndOrdering {
        // Cluster rewritten/inserted rows by partition value so each
        // partition's rows land in one task → the partition-split
        // writers open ~1 file per partition instead of one per
        // (task × partition) (VERDICT r6 next #3). DELETE deltas carry
        // only coordinates — no partition columns to cluster by.
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          if (t.meta.partitionCols.isEmpty ||
              cmd == RowLevelOperation.Command.DELETE)
            org.apache.spark.sql.connector.distributions.Distributions.unspecified()
          else org.apache.spark.sql.connector.distributions.Distributions.clustered(
            // cluster by the SOURCE columns (transform specs cannot name
            // a clustering expression without a FunctionCatalog): same
            // source value ⇒ same transformed value, so each partition's
            // rows land in at most as many tasks as it has source keys —
            // coarser than Iceberg's transform clustering but bounded
            t.transforms.map(tr =>
              Expressions.identity(tr.sourceCol): org.apache.spark.sql.connector.expressions.Expression)
              .distinct.toArray)
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          Array.empty
        override def toBatch: DeltaBatchWrite =
          new LakeDeltaBatchWrite(t, cmd, rowSchema, h => target.committed = Some(h))
      }
    }
  }

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LakeV2Table.FilePathMeta),
      Expressions.column(LakeV2Table.PosMeta))

  /** v3 updates/merges carry each matched row's `_row_id` through the
    * plan so rewritten rows keep their lineage ids. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (cmd != RowLevelOperation.Command.DELETE && v3)
      Array(Expressions.column(LakeTable.RowIdCol))
    else Array.empty
}

private[lake] object LakeDeltaWriter {
  /** Physical schema of a position-delete file — must read back through
    * LakeTable.DeleteSchema (file_path STRING, pos BIGINT). */
  val DeleteFileType: MessageType = Types.buildMessage()
    .required(PrimitiveType.PrimitiveTypeName.BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("file_path")
    .required(PrimitiveType.PrimitiveTypeName.INT64).named("pos")
    .named("position_delete")

  /** Deletion-vector file schema (M37): Spark reads the plain BINARY
    * column as BinaryType, matching the engine-written DV parquet. */
  val DvFileType: MessageType = Types.buildMessage()
    .required(PrimitiveType.PrimitiveTypeName.BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("file_path")
    .required(PrimitiveType.PrimitiveTypeName.BINARY).named("dv")
    .required(PrimitiveType.PrimitiveTypeName.INT64).named("cnt")
    .named("deletion_vector")

  private class RowBuilder(path: org.apache.hadoop.fs.Path)
      extends ParquetWriter.Builder[InternalRow, RowBuilder](path) {
    override def self(): RowBuilder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport().asInstanceOf[WriteSupport[InternalRow]]
  }

  /** Executor-side `InternalRow` parquet writer, byte-compatible with the
    * session's own writes (Spark's ParquetWriteSupport + the mirrored
    * session conf). Shared by the delta (MoR) and group (CoW) writers. */
  def openRowWriter(parquetConf: Map[String, String], path: String,
      schema: StructType): ParquetWriter[InternalRow] = {
    val c = new Configuration()
    ParquetWriteSupport.setSchema(schema, c)
    // the conf keys ParquetFileFormat.prepareWrite sets before handing
    // this WriteSupport to tasks — mirrored from the session so the
    // files are indistinguishable from driver-written ones
    parquetConf.foreach { case (k, v) => c.set(k, v) }
    new RowBuilder(new org.apache.hadoop.fs.Path(path))
      .withConf(c)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
  }

  /** Remove a task's delete file with its directory (checksum included). */
  def dropDeleteFile(path: String): Unit =
    LakeTable.deleteRecursively(Paths.get(path).getParent)

  /** Effective session values for every conf key ParquetWriteSupport and
    * its schema converter read at init (disassembled from 4.1.2) —
    * EXCEPT the rebase modes: session default EXCEPTION asks the *write
    * path* to fail on pre-Gregorian values, which a fresh executor-side
    * Configuration can't adjudicate; CORRECTED writes proleptic-Gregorian
    * as-is, matching modern session writes. */
  def mirroredParquetConf(): Map[String, String] = {
    import org.apache.spark.sql.internal.SQLConf
    val sqlConf = SQLConf.get
    val entries = Seq(
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
      SQLConf.SESSION_LOCAL_TIMEZONE)
    entries.map(e =>
      e.key -> sqlConf.getConfString(e.key, e.defaultValueString)).toMap +
      (SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key -> "CORRECTED") +
      (SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key -> "CORRECTED")
  }
}

/** Serializable writer config: everything an executor needs to produce
  * files byte-compatible with the session's own parquet writes. */
private[lake] case class LakeDeltaWriteConf(
    deletesDir: String,
    dataDir: String,
    runId: String,
    /** JSON of the row schema Spark feeds to update()/insert(). */
    rowSchemaJson: String,
    /** Whether update rows carry a `_row_id` metadata value to persist. */
    withRowIds: Boolean,
    /** Effective session values for every conf key ParquetWriteSupport
      * and its schema converter read at init, mirrored so executor-
      * written files match driver-written ones. */
    parquetConf: Map[String, String],
    /** The table's partition columns: data-file writers split their
      * output per partition value so the written files carry partition
      * values and stay prunable (VERDICT r6 next #3). */
    partitionCols: Seq[String] = Nil,
    /** "position" (classic parquet coordinates) or "dv" (M37 deletion
      * vectors): the delta writers honor the table's
      * write.delete.format, as maintenance's delete rewrite does. */
    deleteFormat: String = "position")

/** One data file written by a task: path, row count, and the partition
  * values it records (hive-decoded external form, same domain as
  * [[LakeTable.partitionValuesFromPath]]). */
private[lake] case class DataFilePart(
    path: String, rows: Long, partitionValues: Map[String, String])

/** Internal-value → hive-decoded-external partition rendering for the
  * executor-side writers. The rendered string MUST be byte-identical to
  * what [[LakeTable.partitionValuesFromPath]] records for
  * [[LakeTable]]'s own writes (Spark's hive-path encode → URLDecoder decode round-trip), or
  * partition pruning would wrongly drop/keep files — so only the types
  * with a proven-stable rendering are rendered (the same conservative
  * domain as [[PartitionFilterValues]]); anything else records NO value
  * for that column, which pruning treats as "always survives". */
private[lake] object PartitionRender {
  import org.apache.spark.sql.types._

  val HiveDefault = "__HIVE_DEFAULT_PARTITION__"

  /** Per-partition-field renderers resolved against the write schema.
    * Spec entries may be transforms (M36): those evaluate the
    * transform's [[PartitionTransform.valueExpr]] — the SAME catalyst
    * tree [[LakeTable]]'s write path and prune time use — over a
    * [[org.apache.spark.sql.catalyst.expressions.BoundReference]] per
    * row, so all three renderings agree by construction. Identity keeps
    * the typed renderers below. A column missing from the schema
    * (impossible in practice) or with an unrenderable identity type
    * yields constant None — all values merge into one unannotated file,
    * correct and conservative. */
  def renderers(schema: StructType,
      partSpecs: Seq[String]): Seq[(String, InternalRow => Option[String])] =
    partSpecs.map { spec =>
      // per-spec, LENIENT parse: the write schema is the command's row
      // schema, which may omit a partition source column (e.g. an
      // UPDATE that doesn't touch it under column-pruned rewrites) —
      // then this field simply records no value, the same conservative
      // fallback the identity renderers always had. Strict validation
      // (collisions, types) already ran at DDL time.
      scala.util.Try(PartitionTransform.parse(spec, schema)).toOption match {
        case Some(t: PartitionTransforms.Identity) =>
          identityRenderer(schema, t.sourceCol)
        case Some(t) =>
          val i = schema.fieldNames.indexOf(t.sourceCol)
          val expr = t.valueExpr(
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, schema.fields(i).dataType, nullable = true))
          val render: InternalRow => Option[String] =
            r => Some(Option(expr.eval(r)).map(_.toString).getOrElse(HiveDefault))
          t.fieldName -> render
        case None => spec -> ((_: InternalRow) => None)
      }
    }

  private def identityRenderer(schema: StructType,
      c: String): (String, InternalRow => Option[String]) = {
      val i = schema.fieldNames.indexOf(c)
      val render: InternalRow => Option[String] =
        if (i < 0) _ => None
        else schema.fields(i).dataType match {
          case StringType => r =>
            Some(if (r.isNullAt(i)) HiveDefault else r.getUTF8String(i).toString)
          case BooleanType => r =>
            Some(if (r.isNullAt(i)) HiveDefault else r.getBoolean(i).toString)
          case ByteType => r =>
            Some(if (r.isNullAt(i)) HiveDefault else r.getByte(i).toString)
          case ShortType => r =>
            Some(if (r.isNullAt(i)) HiveDefault else r.getShort(i).toString)
          case IntegerType => r =>
            Some(if (r.isNullAt(i)) HiveDefault else r.getInt(i).toString)
          case LongType => r =>
            Some(if (r.isNullAt(i)) HiveDefault else r.getLong(i).toString)
          case DateType => r =>
            Some(if (r.isNullAt(i)) HiveDefault
            else java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString)
          case _ => _ => None // timestamps/decimals/floats: no rendering
        }
      c -> render
    }
}

/** A group of lazily-opened parquet writers, one per distinct rendered
  * partition-value tuple — the executor side of partition-value-aware
  * delta/CoW writes. Open-writer count per task is bounded by the
  * distinct partition values the task sees; the Write declares a
  * CLUSTERED-by-partition-columns required distribution, so Spark
  * routes each partition's rows to one task and the expected count is
  * ~1 (same contract Iceberg's fanout-free writers rely on). */
private[lake] final class PartitionedRowWriters(
    parquetConf: Map[String, String], dir: String, filePrefix: String,
    schema: StructType, partCols: Seq[String]) {

  private val renders = PartitionRender.renderers(schema, partCols)
  private final class Open(val path: String, val pv: Map[String, String]) {
    val writer: ParquetWriter[InternalRow] =
      LakeDeltaWriter.openRowWriter(parquetConf, path, schema)
    var rows: Long = 0L
  }
  private val open =
    scala.collection.mutable.LinkedHashMap.empty[Seq[Option[String]], Open]

  def write(row: InternalRow): Unit = {
    val key: Seq[Option[String]] = renders.map(_._2(row))
    val o = open.getOrElseUpdate(key, {
      val pv = renders.map(_._1).zip(key)
        .collect { case (c, Some(v)) => c -> v }.toMap
      new Open(s"$dir/$filePrefix-${open.size}.parquet", pv)
    })
    o.writer.write(row)
    o.rows += 1L
  }

  def commit(): Seq[DataFilePart] = open.values.toSeq.map { o =>
    o.writer.close(); DataFilePart(o.path, o.rows, o.pv)
  }

  def abort(): Unit = open.values.foreach { o =>
    o.writer.close(); Files.deleteIfExists(Paths.get(o.path))
  }
}

private[lake] case class LakeDeltaWriterFactory(conf: LakeDeltaWriteConf)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new LakeDeltaWriter(conf, s"${conf.runId}-$partitionId-$taskId")
}

private[lake] case class LakeDeltaCommit(
    deletePath: String, deleteRows: Long,
    rowIdFiles: Seq[DataFilePart],
    plainFiles: Seq[DataFilePart],
    deleteKind: String = "position") extends WriterCommitMessage

/** Executor-side delta writer: buffers nothing — deleted coordinates,
  * rewritten rows, and inserted rows stream straight into (at most)
  * three parquet files. Writers open lazily, so a task that matches
  * nothing writes nothing. */
private[lake] class LakeDeltaWriter(conf: LakeDeltaWriteConf, suffix: String)
    extends DeltaWriter[InternalRow] {

  private val rowSchema =
    DataType.fromJson(conf.rowSchemaJson).asInstanceOf[StructType]

  // --- position-delete file (simple fixed schema: parquet Group API)
  private var delWriter: ParquetWriter[org.apache.parquet.example.data.Group] = null
  private val delFactory = new SimpleGroupFactory(LakeDeltaWriter.DeleteFileType)
  // one directory per writing task under `deletes/`, the layout of
  // LakeTable's delete-file sets: a task's file never shares a directory
  // with another task's, and abort drops the directory whole
  private val delPath = s"${conf.deletesDir}/$suffix/deletes.parquet"
  private var delRows = 0L

  // --- data files (arbitrary Spark schema: Spark's own WriteSupport),
  // partition-split so the written files carry partition values
  private lazy val updWriters = new PartitionedRowWriters(
    conf.parquetConf, conf.dataDir, s"$suffix-u",
    if (conf.withRowIds)
      StructType(rowSchema.fields :+ StructField(LakeTable.RowIdCol, LongType))
    else rowSchema,
    conf.partitionCols)
  private lazy val insWriters = new PartitionedRowWriters(
    conf.parquetConf, conf.dataDir, s"$suffix-i", rowSchema, conf.partitionCols)
  private val joined = new JoinedRow()

  // --- dv mode (M37): positions accumulate per target file in task
  // memory (bounded by the task's matched deletes — the same bound the
  // engine path's per-group sort needs) and encode to bitmaps at commit
  private val dvMode = conf.deleteFormat == "dv"
  private val dvAcc = scala.collection.mutable.HashMap
    .empty[String, scala.collection.mutable.ArrayBuffer[Long]]

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (dvMode) {
      // copy out of the reused row immediately
      dvAcc.getOrElseUpdate(id.getUTF8String(0).toString,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(1)
      delRows += 1L
      return
    }
    if (delWriter == null) {
      val c = new Configuration()
      c.set(org.apache.parquet.hadoop.example.GroupWriteSupport.PARQUET_EXAMPLE_SCHEMA,
        LakeDeltaWriter.DeleteFileType.toString)
      delWriter = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(delPath))
        .withConf(c)
        .withType(LakeDeltaWriter.DeleteFileType)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .build()
    }
    val g = delFactory.newGroup()
    // copy out of the reused row immediately
    g.append("file_path", id.getUTF8String(0).toString)
    g.append("pos", id.getLong(1))
    delWriter.write(g)
    delRows += 1L
  }

  /** Encode and write this task's deletion vectors (one row per target
    * data file). Returns the DISTINCT position total — [[DeleteFileMeta
    * .rowCount]] must equal bitmap cardinality. */
  private def writeDvFile(): Long = {
    val c = new Configuration()
    c.set(org.apache.parquet.hadoop.example.GroupWriteSupport.PARQUET_EXAMPLE_SCHEMA,
      LakeDeltaWriter.DvFileType.toString)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(delPath))
      .withConf(c)
      .withType(LakeDeltaWriter.DvFileType)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val dvFactory = new SimpleGroupFactory(LakeDeltaWriter.DvFileType)
    var total = 0L
    try dvAcc.toSeq.sortBy(_._1).foreach { case (fp, ps) =>
      val (bytes, distinct) = DeleteVectors.encodeWithCount(ps.toArray)
      val g = dvFactory.newGroup()
      g.append("file_path", fp)
      g.append("dv",
        org.apache.parquet.io.api.Binary.fromConstantByteArray(bytes))
      g.append("cnt", distinct)
      w.write(g)
      total += distinct
    } finally w.close()
    total
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(metadata, id) // the old version's coordinates
    if (conf.withRowIds) {
      joined.apply(row,
        new GenericInternalRow(Array[Any](metadata.getLong(0))))
      updWriters.write(joined)
    } else updWriters.write(row)
  }

  override def insert(row: InternalRow): Unit = insWriters.write(row)

  override def commit(): WriterCommitMessage = {
    if (delWriter != null) delWriter.close()
    if (dvMode && dvAcc.nonEmpty) {
      val distinctTotal = writeDvFile()
      LakeDeltaCommit(delPath, distinctTotal,
        updWriters.commit(), insWriters.commit(), deleteKind = "dv")
    } else LakeDeltaCommit(
      if (delRows > 0) delPath else null, delRows,
      updWriters.commit(), insWriters.commit(),
      deleteKind = if (dvMode) "dv" else "position")
  }

  override def abort(): Unit = {
    if (delWriter != null) delWriter.close()
    LakeDeltaWriter.dropDeleteFile(delPath)
    updWriters.abort()
    insWriters.abort()
  }

  override def close(): Unit = ()
}

/** Driver-side commit: the delta files become one MoR snapshot. The
  * commit goes through the ANALYSIS-TIME handle `t`, never a reloaded
  * one: the delta coordinates were computed against `t`'s file set, so
  * if any commit landed since (a compaction rewriting the referenced
  * files, another DML), Meta.commit's expectedVersion CAS must reject
  * with CommitConflictException — reloading here would CAS against the
  * NEW version and let a position-delete file referencing rewritten
  * (dead) paths commit as a silent no-op, losing the delete.
  * ConcurrencySpec drives stale [[LakeTable]] handles through this
  * commit: state-dependent DML never lands silently. */
private[lake] class LakeDeltaBatchWrite(
    t: LakeTable, cmd: RowLevelOperation.Command, rowSchema: StructType,
    /** Receives the handle the commit returns. */
    committed: LakeTable => Unit = _ => ())
    extends DeltaBatchWrite {

  Files.createDirectories(t.location.resolve("deletes"))
  private val dataDir = t.location.resolve("data").resolve(UUID.randomUUID().toString)
  Files.createDirectories(dataDir)

  private val withRowIds =
    cmd != RowLevelOperation.Command.DELETE && t.meta.formatVersion >= 3

  // DML honors the table's DV preference through the same gate
  // consolidatePositionDeletes uses (review r7)
  private val deleteFormat = t.validatedDeleteFormat

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    LakeDeltaWriterFactory(LakeDeltaWriteConf(
      deletesDir = t.location.resolve("deletes").toString,
      dataDir = dataDir.toString,
      runId = UUID.randomUUID().toString,
      rowSchemaJson = rowSchema.json,
      withRowIds = withRowIds,
      parquetConf = LakeDeltaWriter.mirroredParquetConf() ++ t.bloomFilterConf,
      partitionCols = t.meta.partitionCols,
      deleteFormat = deleteFormat))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val cs = messages.collect { case c: LakeDeltaCommit => c }
    val nDel = cs.map(_.deleteRows).sum
    val nUpd = cs.flatMap(_.rowIdFiles).map(_.rows).sum
    val nIns = cs.flatMap(_.plainFiles).map(_.rows).sum
    if (nDel + nUpd + nIns == 0) { cleanupIfEmpty(); return }

    val cur = t // analysis-time handle: see class Scaladoc
    val seq = cur.meta.lastSequenceNumber + 1
    val hadoopConf = SparkSession.active.sessionState.newHadoopConf()

    val delMetas = cs.collect {
      case c if c.deletePath != null =>
        DeleteFileMeta(c.deletePath, c.deleteKind, c.deleteRows,
          dataSequenceNumber = seq, sizeBytes = Files.size(Paths.get(c.deletePath)))
    }.toSeq

    // delta-written files record real footer stats (skipping keeps
    // working over updated regions) AND partition values (the writers
    // are partition-split — VERDICT r6 next #3), so partition pruning
    // stays exact over natively-updated regions
    def dataMeta(f: DataFilePart, firstRowId: Long,
        explicit: Boolean): DataFileMeta =
      DataFileMeta(
        path = f.path,
        partitionValues = f.partitionValues,
        rowCount = f.rows,
        sizeBytes = Files.size(Paths.get(f.path)),
        stats = StatsPruning.collectStats(hadoopConf, Paths.get(f.path), cur.schema),
        firstRowId = firstRowId,
        explicitRowIds = explicit,
        dataSequenceNumber = seq)

    // v3 rewrites carry their lineage ids in an explicit column
    val updMetas = cs.flatMap(_.rowIdFiles).map(f =>
      dataMeta(f, firstRowId = if (withRowIds) -1L else 0L,
        explicit = withRowIds)).toSeq
    // plain files (v2 rewrites, merge inserts) mint fresh disjoint ranges
    val plainFiles = cs.flatMap(_.plainFiles).toSeq
    val start =
      if (cur.meta.nextRowId >= 0) cur.meta.nextRowId
      else cur.meta.computedNextRowId
    var rowId = start
    val plainMetas = plainFiles.map { f =>
      val m = dataMeta(f, rowId, explicit = false); rowId += f.rows; m
    }
    // v2 update files also need minted ranges (v3 ones carry explicit
    // ids); minting order: plain files first, then v2 update files
    val updFinal =
      if (withRowIds) updMetas
      else updMetas.map { m =>
        val withId = m.copy(firstRowId = rowId); rowId += m.rowCount; withId
      }
    val minted = rowId - start

    val (opName, summary) = cmd match {
      case RowLevelOperation.Command.DELETE =>
        ("delete", Map("deleted-records" -> nDel.toString))
      case RowLevelOperation.Command.UPDATE =>
        ("update", Map("updated-records" -> (nUpd + nIns).toString))
      case _ =>
        ("merge", Map("matched-records" -> nDel.toString,
          "inserted-records" -> nIns.toString))
    }
    committed(cur.commitSnapshot(
      cur.newSnapshot(opName, cur.dataFiles ++ updFinal ++ plainMetas,
        cur.deleteFiles ++ delMetas, summary),
      m => if (m.nextRowId >= 0 && minted > 0) m.copy(nextRowId = start + minted)
        else m))
    cleanupIfEmpty()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case c: LakeDeltaCommit =>
        if (c.deletePath != null) LakeDeltaWriter.dropDeleteFile(c.deletePath)
        (c.rowIdFiles ++ c.plainFiles).foreach(f =>
          Files.deleteIfExists(Paths.get(f.path)))
      case _ => ()
    }
    cleanupIfEmpty()
  }

  /** Drop the per-write data dir when no task wrote a data file. */
  private def cleanupIfEmpty(): Unit =
    if (Files.isDirectory(dataDir)) {
      val s = Files.list(dataDir)
      val empty = try !s.iterator().hasNext finally s.close()
      if (empty) Files.deleteIfExists(dataDir)
    }
}

// --------------------------------------------------------------------------
// Copy-on-write (group-based) row-level DML — VERDICT r6 next #2.
// --------------------------------------------------------------------------

/** Native `DELETE`/`UPDATE`/`MERGE` for `write.*.mode=copy-on-write`
  * tables: a plain (non-delta) [[RowLevelOperation]], so Catalyst's
  * RewriteDeleteFromTable / RewriteUpdateTable / RewriteMergeIntoTable
  * produce a group-based `ReplaceData` plan — affected GROUPS (files) are
  * rewritten whole, and the commit swaps them for the written files. No
  * delete file is ever minted, which is the CoW contract: strict v2
  * readers (the reference's motivating reader class, README.md:5-7) must
  * be able to scan the result.
  *
  * Group scope = the data files surviving the statement condition's
  * partition + footer-stats pruning. The scope predicate is computed ONCE
  * — by [[NativeReadRule]]'s ReplaceData splice, which also builds the
  * scan over exactly the files it admits — and stored here for the
  * commit, so scan and commit partition the SAME file set by the SAME
  * predicate object: they can never disagree, which is what makes the
  * swap lossless (a file the scan read but the commit kept would
  * duplicate its rows; the shared predicate makes that impossible by
  * construction).
  *
  * The scan itself is the NativeReadRule splice of
  * [[LakeTable.readWithCoords]] — group-based plans head for
  * `BatchScanExec`, which the engine's V1Scan bridge cannot serve
  * ("Batch scan are not supported"), so native CoW DML REQUIRES
  * [[LakeExtensions]] to be installed (every session builder in the repo
  * does; without it the statement fails loudly at planning, never
  * corrupts).
  *
  * Scale notes: scope precision comes from partition + stats pruning; a
  * runtime group-filter subquery (SupportsRuntimeV2Filtering, Iceberg's
  * trick to narrow scope to files that CONTAIN matches) needs a native
  * DSv2 Batch scan — so a condition the stats can't bound rewrites every
  * scoped file. That is correct-but-conservative, the same posture as
  * partition pruning over delta-written files. v3 lineage: every
  * surviving/updated row carries its `_row_id` through the plan
  * (requiredMetadataAttributes) into an explicit-row-id file;
  * merge-inserted rows (null metadata) land in a separate file and mint
  * fresh ids at commit. */
private[lake] class LakeCowRowLevelOperation(
    target: LakeV2Table, cmd: RowLevelOperation.Command) extends RowLevelOperation {

  private val t = target.lakeTable

  /** The group-scope predicate, set by NativeReadRule's splice during
    * optimization (single-threaded), read at commit. Default admits
    * everything — unreachable in practice, because without the splice the
    * scan itself fails at planning. */
  @volatile private var scopePred: DataFileMeta => Boolean = _ => true

  private[lake] def table: LakeTable = t
  /** The principal the target table checks; the scan splice gates on it. */
  private[lake] def principal: Option[String] = target.principal
  private[lake] def setScope(p: DataFileMeta => Boolean): Unit = scopePred = p

  override def command(): RowLevelOperation.Command = cmd

  /** Only planned when LakeExtensions is absent — then the V1Scan bridge
    * reaches BatchScanExec and fails loudly (see class Scaladoc). The
    * real scan is the NativeReadRule splice. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    target.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val rowSchema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write
          with RequiresDistributionAndOrdering {
        // rewritten rows carry every column on all commands (CoW writes
        // whole rows, unlike the delta DELETE) — cluster by partition
        // value so each partition lands in one task's writer
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          if (t.meta.partitionCols.isEmpty)
            org.apache.spark.sql.connector.distributions.Distributions.unspecified()
          else org.apache.spark.sql.connector.distributions.Distributions.clustered(
            // source-column clustering, same rationale as the delta write
            t.transforms.map(tr =>
              Expressions.identity(tr.sourceCol): org.apache.spark.sql.connector.expressions.Expression)
              .distinct.toArray)
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          Array.empty
        override def toBatch: BatchWrite =
          new LakeCowBatchWrite(t, cmd, rowSchema, () => scopePred,
            h => target.committed = Some(h))
      }
    }
  }

  /** v3: every written-back row must keep its lineage id (CoW copies
    * preserve `_row_id`, as compaction's rewrites do).
    * v2 still requests `_file_path`: a group-based write with NO
    * projected metadata takes Spark's plain DataWritingSparkTask, which
    * does not apply the row projection — the writer would receive the
    * raw query row with the prepended `__row_operation` column and write
    * garbage (found live: 5-col CoW DELETE, AIOOBE in writeFields).
    * Requesting any metadata attribute forces
    * DataAndMetadataWritingSparkTask, whose row projection strips the
    * operation column (the same contract Iceberg's CoW relies on by
    * always projecting `_file`). */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (t.meta.formatVersion >= 3) Array(Expressions.column(LakeTable.RowIdCol))
    else Array(Expressions.column(LakeV2Table.FilePathMeta))
}

private[lake] case class LakeCowCommit(
    preserved: Seq[DataFilePart],
    minted: Seq[DataFilePart]) extends WriterCommitMessage

private[lake] case class LakeCowWriterFactory(conf: LakeDeltaWriteConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LakeCowWriter(conf, s"${conf.runId}-$partitionId-$taskId")
}

/** Executor-side CoW rewrite writer: streams rows into at most two
  * parquet files per task — `-p` (rows whose `_row_id` metadata is
  * present: survivors + updates, persisted as an explicit lineage column)
  * and `-m` (rows with no lineage: v2 tables, merge inserts; commit mints
  * their implicit id ranges). `conf.deletesDir` is unused here — a CoW
  * write never mints a delete file, by construction. */
private[lake] class LakeCowWriter(conf: LakeDeltaWriteConf, suffix: String)
    extends DataWriter[InternalRow] {

  private val rowSchema =
    DataType.fromJson(conf.rowSchemaJson).asInstanceOf[StructType]

  private lazy val presWriters = new PartitionedRowWriters(
    conf.parquetConf, conf.dataDir, s"$suffix-p",
    StructType(rowSchema.fields :+ StructField(LakeTable.RowIdCol, LongType)),
    conf.partitionCols)
  private lazy val mintWriters = new PartitionedRowWriters(
    conf.parquetConf, conf.dataDir, s"$suffix-m", rowSchema, conf.partitionCols)
  private val joined = new JoinedRow()

  override def write(row: InternalRow): Unit = mintWriters.write(row)

  /** Two-arg form: Spark's DataAndMetadataWritingSparkTask feeds
    * (metadataRow, dataRow) when the plan carries projected metadata —
    * `_row_id` on v3, `_file_path` on v2 (see requiredMetadataAttributes).
    * Null metadata = a row with no target provenance (merge insert) →
    * minted file. */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    if (!conf.withRowIds || metadata == null || metadata.isNullAt(0)) write(row)
    else {
      joined.apply(row, new GenericInternalRow(Array[Any](metadata.getLong(0))))
      presWriters.write(joined)
    }

  override def commit(): WriterCommitMessage =
    LakeCowCommit(presWriters.commit(), mintWriters.commit())

  override def abort(): Unit = {
    presWriters.abort()
    mintWriters.abort()
  }

  override def close(): Unit = ()
}

/** Driver-side CoW commit: swap the scoped files for the written ones in
  * ONE snapshot, delete files untouched (none are minted, existing ones
  * keep applying to the untouched files). Commits through the
  * ANALYSIS-TIME handle, same contract (and same Scaladoc rationale) as
  * [[LakeDeltaBatchWrite]]: the rewrite was computed against `t`'s file
  * set, so any interleaved commit must surface CommitConflictException
  * rather than silently basing the swap on rewritten state. */
private[lake] class LakeCowBatchWrite(
    t: LakeTable, cmd: RowLevelOperation.Command, rowSchema: StructType,
    scopePred: () => DataFileMeta => Boolean,
    committed: LakeTable => Unit)
    extends BatchWrite {

  private val dataDir = t.location.resolve("data").resolve(UUID.randomUUID().toString)
  Files.createDirectories(dataDir)

  private val withRowIds = t.meta.formatVersion >= 3

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    LakeCowWriterFactory(LakeDeltaWriteConf(
      deletesDir = "", // never used: CoW writes mint no delete files
      dataDir = dataDir.toString,
      runId = UUID.randomUUID().toString,
      rowSchemaJson = rowSchema.json,
      withRowIds = withRowIds,
      parquetConf = LakeDeltaWriter.mirroredParquetConf() ++ t.bloomFilterConf,
      partitionCols = t.meta.partitionCols))

  /** Spark's MERGE row counts, recorded in the merge snapshot's summary
    * as the delta path records its own (`matched-records`,
    * `inserted-records`). */
  private var mergeCounts = Map.empty[String, String]

  override def commit(messages: Array[WriterCommitMessage], summary: WriteSummary): Unit = {
    summary match {
      case m: MergeSummary => mergeCounts = Map(
        "matched-records" ->
          (m.numTargetRowsMatchedUpdated + m.numTargetRowsMatchedDeleted).toString,
        "inserted-records" -> m.numTargetRowsInserted.toString)
      case _ =>
    }
    commit(messages)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val cs = messages.collect { case c: LakeCowCommit => c }
    val cur = t // analysis-time handle: see class Scaladoc
    // the EXACT predicate the spliced scan selected its files with
    val (scope, keep) = cur.dataFiles.partition(scopePred())
    val presFiles = cs.flatMap(_.preserved).toSeq
    val mintFiles = cs.flatMap(_.minted).toSeq
    val nMint = mintFiles.map(_.rows).sum
    val written = presFiles.map(_.rows).sum + nMint

    def dropWritten(): Unit = {
      (presFiles ++ mintFiles).foreach(f =>
        Files.deleteIfExists(Paths.get(f.path)))
      cleanupIfEmpty()
    }
    // Statically-empty scope with nothing written: nothing to do. (A
    // merge can write inserts even with an empty scope, so `written`
    // matters too.)
    if (scope.isEmpty && written == 0) { dropWritten(); return }
    // DELETE that matched no rows rewrites the scope verbatim — output
    // row count equals the scope's live rows exactly when nothing was
    // deleted. Only provable when no delete files exist (rowCount sums
    // are then exact live counts); then skip the no-op commit and drop
    // the redundant rewrite, matching the delta path's
    // nothing-matched-commits-nothing behavior.
    if (cmd == RowLevelOperation.Command.DELETE && cur.deleteFiles.isEmpty &&
        written == scope.map(_.rowCount).sum) { dropWritten(); return }

    val seq = cur.meta.lastSequenceNumber + 1
    val hadoopConf = SparkSession.active.sessionState.newHadoopConf()
    // rewritten files carry footer stats AND partition values (the
    // writers are partition-split), so pruning stays exact post-rewrite
    def dataMeta(f: DataFilePart, firstRowId: Long,
        explicit: Boolean): DataFileMeta =
      DataFileMeta(
        path = f.path,
        partitionValues = f.partitionValues,
        rowCount = f.rows,
        sizeBytes = Files.size(Paths.get(f.path)),
        stats = StatsPruning.collectStats(hadoopConf, Paths.get(f.path), cur.schema),
        firstRowId = firstRowId,
        explicitRowIds = explicit,
        dataSequenceNumber = seq)

    val presMetas = presFiles.map(f =>
      dataMeta(f, firstRowId = -1L, explicit = true))
    val start =
      if (cur.meta.nextRowId >= 0) cur.meta.nextRowId
      else cur.meta.computedNextRowId
    var rowId = start
    val mintMetas = mintFiles.map { f =>
      val m = dataMeta(f, rowId, explicit = false); rowId += f.rows; m
    }
    val minted = rowId - start

    val (opName, summary) = cmd match {
      case RowLevelOperation.Command.DELETE =>
        val deleted =
          if (cur.deleteFiles.isEmpty) scope.map(_.rowCount).sum - written
          else -1L // live counts unknowable under MoR deletes
        ("delete", Map("rewritten-files" -> scope.size.toString) ++
          (if (deleted >= 0) Map("deleted-records" -> deleted.toString) else Map.empty))
      case RowLevelOperation.Command.UPDATE =>
        ("update", Map("rewritten-files" -> scope.size.toString,
          "written-records" -> written.toString))
      case _ =>
        // minted rows are specifically merge-inserts only on v3 (v2
        // routes every row to the minted file — no lineage to preserve)
        ("merge", Map("rewritten-files" -> scope.size.toString) ++
          (if (withRowIds) Map("inserted-records" -> nMint.toString)
           else Map("written-records" -> written.toString)) ++ mergeCounts)
    }
    committed(cur.commitSnapshot(
      cur.newSnapshot(opName, keep ++ presMetas ++ mintMetas,
        cur.deleteFiles, summary),
      m => if (m.nextRowId >= 0 && minted > 0) m.copy(nextRowId = start + minted)
        else m))
    cleanupIfEmpty()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case c: LakeCowCommit =>
        (c.preserved ++ c.minted).foreach(f =>
          Files.deleteIfExists(Paths.get(f.path)))
      case _ => ()
    }
    cleanupIfEmpty()
  }

  private def cleanupIfEmpty(): Unit =
    if (Files.isDirectory(dataDir)) {
      val s = Files.list(dataDir)
      val empty = try !s.iterator().hasNext finally s.close()
      if (empty) Files.deleteIfExists(dataDir)
    }
}
