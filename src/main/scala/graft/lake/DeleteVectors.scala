package graft.lake

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** v3 deletion vectors (M37) — the marquee Iceberg-v3 MoR change the
  * reference's own upgrade story targets (README.md:13-16: EMR ≥ 7.12 /
  * Iceberg ≥ 1.10 is exactly the DV-capable floor): position deletes for
  * one data file stored as ONE compressed bitmap row instead of one
  * parquet row per deleted position.
  *
  * Representation: sorted positions encoded as delta varints (LEB128)
  * behind a version byte. Dense runs cost ~1 byte/position, sparse
  * deletes ~2-5 bytes — 10-50× smaller than the 2-column parquet rows
  * they replace. A DV "file" is a small parquet of `(file_path, dv, cnt)`
  * rows — one row per targeted data file, written distributed (the
  * bitmap for each data file is built executor-side from that file's
  * grouped positions; nothing row-scale crosses the driver).
  *
  * The bitmap is also the READ form of every position-scoped delete:
  * within the delete broadcast budget, [[load]] reads a scan's classic
  * position-delete files and DV files on the driver (parquet footers and
  * column chunks, no Spark job), folds position rows per data file into
  * bitmaps, and the scan filters through one broadcast [[Membership]]
  * test — so a v2 table and its v3 twin pay the same, compact, read.
  *
  * Scoping mirrors position deletes: data files are immutable and
  * uniquely pathed, so a DV can only ever hit the file it was written
  * against — no sequence arithmetic needed on the read side.
  *
  * Equality deletes take the same driver-side road within the budget:
  * [[equalityKeys]] reads their key columns with the same projected
  * reader, and the scan tests each row against one broadcast
  * [[EqualityDeletes]] through an [[EqualityFilter]] per column set. */
object DeleteVectors {

  /** Format version byte — future-proofing the on-disk bytes. */
  private val Version: Byte = 1

  /** Encode UNSORTED positions in place: sorts, encodes, and returns the
    * bitmap with its cardinality (distinct positions — the value
    * [[graft.lake.DeleteFileMeta.rowCount]] must carry; a count that
    * disagrees with the bitmap would poison every consumer). The single
    * definition both the engine and the native-DML writers share. */
  def encodeWithCount(positions: Array[Long]): (Array[Byte], Long) = {
    java.util.Arrays.sort(positions)
    var distinct = 0L; var i = 0; var prev = -1L
    while (i < positions.length) {
      if (positions(i) != prev) { distinct += 1; prev = positions(i) }
      i += 1
    }
    (encode(positions), distinct)
  }

  /** Encode positions (must be sorted ascending; duplicates collapse). */
  def encode(sorted: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(sorted.length + 1)
    out.write(Version)
    var prev = -1L
    var i = 0
    while (i < sorted.length) {
      val p = sorted(i)
      if (p != prev) {
        require(p > prev, s"positions not sorted: $p after $prev")
        var delta = p - prev // ≥ 1
        while ((delta & ~0x7fL) != 0) {
          out.write(((delta & 0x7f) | 0x80).toInt)
          delta >>>= 7
        }
        out.write(delta.toInt)
        prev = p
      }
      i += 1
    }
    out.toByteArray
  }

  /** Decode to the original sorted positions. Corrupt input (truncated
    * varint, runaway continuation bits) fails with a descriptive error
    * instead of an index crash or silently-wrong positions (review
    * r7). */
  def decode(bytes: Array[Byte]): Array[Long] = {
    require(bytes.nonEmpty && bytes(0) == Version,
      s"unknown deletion-vector format version: ${bytes.headOption.getOrElse(-1)}")
    val out = mutable.ArrayBuilder.make[Long]
    var prev = -1L
    var i = 1
    while (i < bytes.length) {
      var delta = 0L
      var shift = 0
      var b = 0
      do {
        if (i >= bytes.length)
          throw new IllegalArgumentException(
            "corrupt deletion vector: truncated varint at end of buffer")
        if (shift > 63)
          throw new IllegalArgumentException(
            "corrupt deletion vector: varint continuation exceeds 64 bits")
        b = bytes(i) & 0xff
        delta |= (b & 0x7fL) << shift
        shift += 7
        i += 1
      } while ((b & 0x80) != 0)
      prev += delta
      out += prev
    }
    out.result()
  }

  /** Every bitmap of a read, keyed by the data file it hits. */
  type Bitmaps = Map[String, Array[Array[Byte]]]

  /** Driver-side load of position-delete files (`file_path`, `pos`) and
    * DV files (`file_path`, `dv`) into per-data-file bitmaps, straight
    * through parquet-hadoop: no Spark job, only the two needed columns
    * are read. Position rows of one data file — across every position
    * file — fold into one bitmap (duplicates collapse); DV bitmaps are
    * kept as written. Only rows naming one of `scanned` (the data files
    * the read scans) are kept; rows with a null file or position name
    * nothing, as in the anti-join they replace. */
  def load(conf: Configuration, positionFiles: Seq[String],
      dvFiles: Seq[String], scanned: Set[String]): Bitmaps = {
    val positions = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
    val dvs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Array[Byte]]]
    positionFiles.foreach(scanDeleteRows(conf, _, "pos") { r =>
      if (r.hasPos && scanned.contains(r.file))
        positions.getOrElseUpdate(r.file, new mutable.ArrayBuilder.ofLong) += r.pos
    })
    dvFiles.foreach(scanDeleteRows(conf, _, "dv") { r =>
      if (r.dv != null && scanned.contains(r.file))
        dvs.getOrElseUpdate(r.file, mutable.ArrayBuffer.empty) += r.dv
    })
    (positions.keySet ++ dvs.keySet).iterator.map { f =>
      val folded = positions.get(f).map { b =>
        val ps = b.result(); java.util.Arrays.sort(ps); encode(ps)
      }
      f -> (folded.toArray ++ dvs.get(f).map(_.toArray).getOrElse(Array.empty))
    }.toMap
  }

  /** Data files the rows of one position-delete or DV file name, read
    * on the driver from its `file_path` column alone (no Spark job);
    * null names nothing. */
  def targets(conf: Configuration, deleteFile: String): Set[String] = {
    val out = mutable.HashSet.empty[String]
    scanDeleteRows(conf, deleteFile) { r => if (r.file != null) out += r.file }
    out.toSet
  }

  /** Deleted positions a DV file records: the sum of its `cnt` column,
    * read on the driver (one row per targeted data file). */
  def deletedCount(conf: Configuration, dvFile: String): Long = {
    var n = 0L
    scanDeleteRows(conf, dvFile, "cnt") { r => if (r.hasPos) n += r.pos }
    n
  }

  /** Position-delete or DV rows: `file_path` and the optional `payload`. */
  private def scanDeleteRows(conf: Configuration, path: String, payload: String*)(
      onRow: DeleteRow => Unit): Unit =
    scan(conf, path, "file_path" +: payload)(_ => Some(new DeleteRow))(onRow)

  /** One delete-file row as the scan's converter leaves it. */
  private final class DeleteRow extends GroupConverter {
    var file: String = _
    var pos = 0L
    var hasPos = false
    var dv: Array[Byte] = _
    private val fileConv = new PrimitiveConverter {
      override def addBinary(v: Binary): Unit = file = v.toStringUsingUTF8
    }
    // `pos` and `cnt` both land in `pos`/`hasPos`
    private val payloadConv = new PrimitiveConverter {
      override def addLong(v: Long): Unit = { pos = v; hasPos = true }
      override def addBinary(v: Binary): Unit = dv = v.getBytes
    }
    override def getConverter(i: Int): Converter =
      if (i == 0) fileConv else payloadConv
    override def start(): Unit = { file = null; hasPos = false; dv = null }
    override def end(): Unit = ()
  }

  /** One equality-delete row as the scan's converter leaves it: each key
    * column's value in Catalyst's internal form, null for a null. */
  private final class KeyRow(types: Seq[DataType]) extends GroupConverter {
    val values = new Array[Any](types.size)
    private val convs: Array[Converter] =
      types.indices.map(i => keyConverter(types(i), values(i) = _)).toArray
    override def getConverter(i: Int): Converter = convs(i)
    override def start(): Unit = java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
    override def end(): Unit = ()
  }

  /** Parquet physical type each key type is read from; decimals come in
    * any of the four encodings parquet allows them. */
  private def readsAs(dt: DataType, p: PrimitiveTypeName): Boolean = {
    import PrimitiveTypeName._
    dt match {
      case BooleanType => p == BOOLEAN
      case ByteType | ShortType | IntegerType => p == INT32
      case LongType => p == INT64
      case FloatType => p == FLOAT
      case DoubleType => p == DOUBLE
      case StringType => p == BINARY
      case _: DecimalType => Set(INT32, INT64, BINARY, FIXED_LEN_BYTE_ARRAY)(p)
      case _ => false
    }
  }

  private def keyConverter(dt: DataType, set: Any => Unit): PrimitiveConverter = dt match {
    case d: DecimalType => new PrimitiveConverter {
      override def addInt(v: Int): Unit = set(Decimal(v.toLong, d.precision, d.scale))
      override def addLong(v: Long): Unit = set(Decimal(v, d.precision, d.scale))
      override def addBinary(v: Binary): Unit = set(Decimal(
        BigDecimal(BigInt(v.getBytes), d.scale), d.precision, d.scale))
    }
    case StringType => new PrimitiveConverter {
      override def addBinary(v: Binary): Unit = set(UTF8String.fromBytes(v.getBytes))
    }
    case _ => new PrimitiveConverter {
      override def addBoolean(v: Boolean): Unit = set(v)
      override def addInt(v: Int): Unit = set(dt match {
        case ByteType => v.toByte
        case ShortType => v.toShort
        case _ => v
      })
      override def addLong(v: Long): Unit = set(v)
      override def addFloat(v: Float): Unit = set(v)
      override def addDouble(v: Double): Unit = set(v)
    }
  }

  /** Key types an equality delete can apply through [[EqualityFilter]]:
    * those whose values hash and compare in [[keyOf]] form exactly as the
    * anti-join's keys compare. Timestamps and dates (calendar rebasing on
    * read), binary and complex types keep the anti-join, and so do
    * strings under a collation or a length constraint (CHAR/VARCHAR). */
  def isKeyType(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | StringType | _: DecimalType => true
    case _ => false
  }

  /** Lookup form of one key value: the join normalises floating-point
    * keys (every NaN equal, -0.0 equal to 0.0), so this does too; every
    * other key type already compares by `equals`. */
  private def normalise(v: Any): Any = v match {
    case f: Float if f.isNaN => Float.NaN
    case f: Float if f == 0.0f => 0.0f
    case d: Double if d.isNaN => Double.NaN
    case d: Double if d == 0.0 => 0.0
    case other => other
  }

  /** Lookup form of an `n`-column key tuple with column `i` holding
    * `value(i)`: the value itself for one column (null included — the
    * join's keys are null-safe), a list of them otherwise. */
  def keyOf(n: Int, value: Int => Any): Any =
    if (n == 1) normalise(value(0))
    else java.util.Arrays.asList(Array.tabulate[Any](n)(i => normalise(value(i))): _*)

  /** Reads the `columns` of one equality-delete file on the driver (no
    * Spark job), matching names with `resolve`. `accept` sees the
    * columns' types in the file first and returns what consumes each
    * row's values ([[KeyRow]] form), or None to leave the file unread —
    * then, as for a column of a type [[isKeyType]] refuses, the result is
    * false. */
  def equalityKeys(conf: Configuration, path: String, columns: Seq[String],
      resolve: (String, String) => Boolean)(
      accept: Seq[DataType] => Option[Array[Any] => Unit]): Boolean = {
    var consume: Array[Any] => Unit = null
    scan(conf, path, columns, resolve) { requested =>
      val types = new ParquetToSparkSchemaConverter(SQLConf.get).convert(requested)
        .fields.map(_.dataType).toSeq
      val decodable = requested.getFields.asScala.zip(types).forall { case (f, dt) =>
        f.isPrimitive && isKeyType(dt) && readsAs(dt, f.asPrimitiveType.getPrimitiveTypeName)
      }
      if (!decodable) None
      else accept(types).map { c => consume = c; new KeyRow(types) }
    }(r => consume(r.values))
  }

  /** Calls `onRow` for each row of one delete file, reading only the named
    * `columns` (each must match exactly one of the file's columns by
    * `resolve`), in that order, through the converter `row` builds for
    * them. False, with nothing read, when `row` declines. */
  private def scan[R <: GroupConverter](conf: Configuration, path: String,
      columns: Seq[String], resolve: (String, String) => Boolean = _ == _)(
      row: MessageType => Option[R])(onRow: R => Unit): Boolean = {
    val reader = StatsPruning.open(conf, java.nio.file.Paths.get(path))
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      val fields = columns.map { c =>
        fileSchema.getFields.asScala.filter(f => resolve(f.getName, c)).toSeq match {
          case Seq(one) => one
          case found => throw new IllegalArgumentException(
            s"delete file $path has ${found.size} columns named $c")
        }
      }
      val requested = new MessageType(fileSchema.getName, fields: _*)
      row(requested) match {
        case None => false
        case Some(converter) =>
          reader.setRequestedSchema(requested)
          val io = new ColumnIOFactory().getColumnIO(requested, fileSchema)
          val materializer = new RecordMaterializer[R] {
            override def getCurrentRecord: R = converter
            override def getRootConverter: GroupConverter = converter
          }
          var pages = reader.readNextRowGroup()
          while (pages != null) {
            val records = io.getRecordReader(pages, materializer)
            var i = 0L
            while (i < pages.getRowCount) { onRow(records.read()); i += 1 }
            pages = reader.readNextRowGroup()
          }
          true
      }
    } finally reader.close()
  }

  /** Membership of (data file, position) in broadcast bitmaps — the
    * predicate of the MoR delete filter. A deserialized copy lives in one
    * task, so each data file's bitmaps decode (and merge into one sorted
    * array) at most once per task, on the first row of that file the
    * task sees; the decoded arrays go with the task. */
  final class Membership(bitmaps: Broadcast[Bitmaps]) extends Serializable {
    @transient private[this] var decoded: mutable.HashMap[String, Array[Long]] = _
    @transient private[this] var lastFile: String = _
    @transient private[this] var last: Array[Long] = _

    def contains(file: String, pos: Long): Boolean = {
      if (file == null) return false
      if (!file.equals(lastFile)) {
        if (decoded == null) decoded = mutable.HashMap.empty
        last = decoded.getOrElseUpdate(file, bitmaps.value.get(file) match {
          case None => Array.emptyLongArray
          case Some(Array(one)) => decode(one)
          case Some(many) =>
            val all = many.flatMap(decode); java.util.Arrays.sort(all); all
        })
        lastFile = file
      }
      last.length > 0 && java.util.Arrays.binarySearch(last, pos) >= 0
    }
  }

  /** Equality deletes of one read, loaded on the driver: per column set
    * (in the read's order), key tuple ([[keyOf]] form) → the highest
    * sequence number a delete file gave it; and per scanned data file its
    * sequence number. */
  final case class EqualityDeletes(
      keys: Seq[java.util.HashMap[Any, java.lang.Long]],
      fileSeqs: Map[String, Long])

  /** The predicate of one column set's equality deletes, called from the
    * scan's generated code: a row is deleted iff `fileSeq(its file) <
    * maxSeq(its key)` — the strictly-older rule over the per-key highest
    * sequence. The file is looked up only for a row whose key some delete
    * names. A deserialized copy lives in one task, which keeps the
    * broadcast value after its first row. */
  final class EqualityFilter(deletes: Broadcast[EqualityDeletes], set: Int,
      types: Array[DataType]) extends Serializable {
    @transient private[this] var loaded: EqualityDeletes = _
    @transient private[this] var lastFile: UTF8String = _
    @transient private[this] var lastSeq = 0L

    private def value: EqualityDeletes = {
      if (loaded == null) loaded = deletes.value
      loaded
    }

    /** Highest delete sequence of the row's key, `Long.MinValue` when no
      * delete names it. */
    def maxSeq(key: InternalRow): Long = {
      val seq = value.keys(set).get(keyOf(types.length, i => key.get(i, types(i))))
      if (seq == null) Long.MinValue else seq
    }

    /** Sequence number of a scanned data file; a file the read does not
      * know reads `Long.MaxValue`, so nothing in it is deleted. */
    def fileSeq(file: UTF8String): Long = {
      if (!file.equals(lastFile)) {
        lastSeq = value.fileSeqs.getOrElse(file.toString, Long.MaxValue)
        lastFile = file.clone()
      }
      lastSeq
    }

    override def toString: String = s"EqualityFilter(set $set)"
  }
}
