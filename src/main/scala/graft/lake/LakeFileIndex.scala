package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The file listing of a lake scan, taken from table metadata: one
  * partition directory of the files the metadata names, with the sizes
  * it recorded. Spark never lists or stats them, so a scan of any file
  * count plans without a listing job (`spark.read.parquet` over more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths runs
  * one).
  *
  * Mirrors `InMemoryFileIndex` over the same paths: qualified file paths
  * (so `_metadata.file_path` and `inputFiles` read the same), zero-length
  * files skipped, equality by path set (so cache lookups and exchange
  * reuse still match two scans of one file set). Modification times are
  * not recorded and read as 0. Seam 7 of [[SparkSeams]]. */
private[lake] final class LakeFileIndex(files: Seq[FileStatus]) extends FileIndex {
  override val rootPaths: Seq[Path] = files.map(_.getPath)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      files.filter(_.getLen > 0).map(FileStatusWithMetadata(_))))

  override def inputFiles: Array[String] =
    files.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  private lazy val pathSet = rootPaths.toSet

  override def equals(other: Any): Boolean = other match {
    case o: LakeFileIndex => pathSet == o.pathSet
    case _ => false
  }

  override def hashCode(): Int = pathSet.hashCode()
}

private[lake] object LakeFileIndex {

  /** Parquet scan of `files` — (path, size in bytes) pairs — with
    * `schema`, planned from metadata. A size ≤ 0 means "not recorded"
    * (delete files, metadata written before sizes were kept): that file
    * is stat'ed on the driver instead. */
  def scan(spark: SparkSession, schema: StructType,
      files: Seq[(String, Long)]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val statuses = files.map { case (p, size) =>
      val raw = new Path(p)
      val fs = raw.getFileSystem(conf)
      val path = raw.makeQualified(fs.getUri, fs.getWorkingDirectory)
      if (size > 0) new FileStatus(size, false, 0, 0L, 0L, path)
      else fs.getFileStatus(path)
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new LakeFileIndex(statuses), new StructType(),
      nullable(schema).asInstanceOf[StructType], None,
      new ParquetFileFormat(), Map.empty)(spark))
  }

  /** `DataType.asNullable` (private to Spark), which file sources apply
    * to a user-given read schema: a parquet file may hold nulls in any
    * field whatever the table declares. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }
}
