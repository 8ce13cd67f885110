package graft.lake

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.broadcast.Broadcast

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
  * against — no sequence arithmetic needed on the read side. */
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
    positionFiles.foreach(scan(conf, _, "pos") { r =>
      if (r.hasPos && scanned.contains(r.file))
        positions.getOrElseUpdate(r.file, new mutable.ArrayBuilder.ofLong) += r.pos
    })
    dvFiles.foreach(scan(conf, _, "dv") { r =>
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
    scan(conf, deleteFile) { r => if (r.file != null) out += r.file }
    out.toSet
  }

  /** Deleted positions a DV file records: the sum of its `cnt` column,
    * read on the driver (one row per targeted data file). */
  def deletedCount(conf: Configuration, dvFile: String): Long = {
    var n = 0L
    scan(conf, dvFile, "cnt") { r => if (r.hasPos) n += r.pos }
    n
  }

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

  /** Calls `onRow` for each row of one delete file, reading only its
    * `file_path` column and the optional `payload` column. */
  private def scan(conf: Configuration, path: String, payload: String*)(
      onRow: DeleteRow => Unit): Unit = {
    val reader = StatsPruning.open(conf, java.nio.file.Paths.get(path))
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      def field(name: String) = fileSchema.getType(fileSchema.getFieldIndex(name))
      val requested = new MessageType(fileSchema.getName,
        ("file_path" +: payload).map(field): _*)
      reader.setRequestedSchema(requested)
      val io = new ColumnIOFactory().getColumnIO(requested, fileSchema)
      val row = new DeleteRow
      val materializer = new RecordMaterializer[DeleteRow] {
        override def getCurrentRecord: DeleteRow = row
        override def getRootConverter: GroupConverter = row
      }
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, materializer)
        var i = 0L
        while (i < pages.getRowCount) { onRow(records.read()); i += 1 }
        pages = reader.readNextRowGroup()
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
}
