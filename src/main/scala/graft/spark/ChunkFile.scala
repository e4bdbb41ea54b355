package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.MessageType

import java.io.{ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** The graft chunk container: how a chunk file holds its `EncodedChunk`
  * rows, after the reference's stripe layout (streams back to back, one
  * footer that locates them).
  *
  * {{{
  *   data   : every row's stream blobs back to back, no page framing
  *   footer : version u8, then per row:
  *              len i32 (bytes of the rest of the row), column opt-str,
  *              every other non-stream EncodedChunk field,
  *              seg_lens present u8, n i32, n × directory entry
  *   tail   : footer length i32, magic "GRF1"
  * }}}
  *
  * A directory entry is (name str, flags u8, [offset i64, length i32]
  * when flags & 1, [n i32, n × i32 stride segment lengths] when flags & 2):
  * it locates one stream and, when the stream is segmented, its
  * `seg_lens`. Integers are big-endian; `opt-x` is a presence byte then x.
  * The column name is absent in column-partitioned files (it is the
  * `column=` directory). Chunk files written before this container are
  * parquet (tail magic `PAR1`); readers dispatch on the magic.
  */
object ChunkFile {
  val Extension = ".graft"
  val Version = 1
  private val Magic = "GRF1".getBytes(UTF_8)
  private val ParquetMagic = "PAR1".getBytes(UTF_8)
  private val TailLen = 8
  // one read fetches the footer of all but the largest files
  private val TailRead = 64 * 1024

  /** A chunk file of either generation, by its name. */
  def isChunkFileName(name: String): Boolean =
    name.endsWith(Extension) || name.endsWith(".parquet")

  private val StreamFlag = 1
  private val SegsFlag = 2

  /** Where one stream's blob lies in the file. */
  final case class StreamRef(name: String, offset: Long, length: Int)

  /** One footer row: the chunk without its stream blobs (`streams` is
    * empty) and where its blobs lie. A row of a parquet-generation file
    * has its blobs in `chunk` and null `refs`.
    */
  final case class Entry(chunk: EncodedChunk, refs: Array[StreamRef])

  /** Writes chunk rows to `out`: blobs as they come, the footer on close. */
  final class Writer(out: OutputStream) extends java.io.Closeable {
    private var pos = 0L
    private val footerBytes = new ByteArrayOutputStream()
    private val footer = new DataOutputStream(footerBytes)
    private val row = new ByteArrayOutputStream()
    private val meta = new DataOutputStream(row)
    footer.writeByte(Version)

    def add(c: EncodedChunk): Unit = {
      row.reset()
      optStr(meta, Option(c.column))
      meta.writeInt(c.part_id)
      meta.writeInt(c.chunk_id)
      meta.writeLong(c.first_row)
      optStr(meta, Option(c.codec))
      meta.writeInt(c.row_count)
      meta.writeInt(c.null_count)
      meta.writeLong(c.raw_bytes)
      meta.writeLong(c.encoded_bytes)
      optStr(meta, c.min_val)
      optStr(meta, c.max_val)
      opt(meta, c.sum_val)(meta.writeLong)
      meta.writeInt(c.stride_rows)
      opt(meta, c.stride_mins)(longs(meta, _))
      opt(meta, c.stride_maxs)(longs(meta, _))
      optStr(meta, c.compression)
      opt(meta, c.stride_null_counts)(ints(meta, _))
      opt(meta, c.bloom)(b => { meta.writeInt(b.length); meta.write(b) })
      opt(meta, c.nan_count)(meta.writeInt)
      val segs = c.seg_lens.getOrElse(Map.empty)
      meta.writeByte(if (c.seg_lens.isDefined) 1 else 0)
      val segOnly = segs.keys.filterNot(c.streams.contains)
      meta.writeInt(c.streams.size + segOnly.size)
      c.streams.foreach { case (name, blob) =>
        val bytes = if (blob == null) Array.emptyByteArray else blob
        str(meta, name)
        val s = segs.get(name)
        meta.writeByte(StreamFlag | (if (s.isDefined) SegsFlag else 0))
        meta.writeLong(pos)
        meta.writeInt(bytes.length)
        s.foreach(ints(meta, _))
        out.write(bytes)
        pos += bytes.length
      }
      segOnly.foreach { name =>
        str(meta, name)
        meta.writeByte(SegsFlag)
        ints(meta, segs(name))
      }
      meta.flush()
      footer.writeInt(row.size())
      row.writeTo(footer)
    }

    override def close(): Unit = {
      footer.writeInt(footerBytes.size())
      footer.write(Magic)
      footer.flush()
      footerBytes.writeTo(out)
      out.close()
    }
  }

  private def str(o: DataOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    o.writeInt(b.length)
    o.write(b)
  }
  private def optStr(o: DataOutputStream, s: Option[String]): Unit = opt(o, s)(str(o, _))
  private def opt[T](o: DataOutputStream, v: Option[T])(w: T => Unit): Unit = v match {
    case Some(x) => o.writeByte(1); w(x)
    case None    => o.writeByte(0)
  }
  private def longs(o: DataOutputStream, xs: Seq[Long]): Unit = {
    o.writeInt(xs.size)
    xs.foreach(o.writeLong)
  }
  private def ints(o: DataOutputStream, xs: Seq[Int]): Unit = {
    o.writeInt(xs.size)
    xs.foreach(o.writeInt)
  }

  /** An open chunk file of this container: its footer rows of the
    * columns `keep` accepts, and the stream it reads blobs from.
    */
  final class Reader private[ChunkFile] (in: FSDataInputStream, val entries: Array[Entry])
      extends java.io.Closeable {
    /** `e`'s chunk with its stream blobs, one read per stream. */
    def load(e: Entry): EncodedChunk = {
      val streams = Map.newBuilder[String, Array[Byte]]
      e.refs.foreach { r =>
        val b = new Array[Byte](r.length)
        readAt(in, r.offset, b)
        streams += r.name -> b
      }
      e.chunk.copy(streams = streams.result())
    }
    private var closed = false
    override def close(): Unit = if (!closed) { closed = true; in.close() }
  }

  /** Opens `path` and reads its footer with one tail read (two when the
    * footer is larger than the first read), keeping the rows whose column
    * `keep` accepts (every row of a column-partitioned file, whose rows
    * carry no column name and read as `column`). None, with nothing left
    * open, for a parquet file: one not named `*.graft` (a chunk file
    * written before the container) is not opened at all, and a `*.graft`
    * file is dispatched on its tail magic.
    * A tail that is neither fails loudly and names the file.
    */
  def open(path: Path, conf: Configuration, keep: String => Boolean = _ => true,
           knownLength: Long = -1L, column: String = null): Option[Reader] = {
    if (!path.getName.endsWith(Extension)) return None
    val fs = path.getFileSystem(conf)
    val len = if (knownLength >= 0) knownLength else fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      if (len < TailLen) throw new IllegalStateException(
        s"$path is not a graft chunk file: $len bytes, shorter than any footer")
      val tail = new Array[Byte](math.min(len, TailRead.toLong).toInt)
      readAt(in, len - tail.length, tail)
      val magic = java.util.Arrays.copyOfRange(tail, tail.length - 4, tail.length)
      if (java.util.Arrays.equals(magic, ParquetMagic)) { in.close(); return None }
      if (!java.util.Arrays.equals(magic, Magic)) throw new IllegalStateException(
        s"$path is not a graft chunk file: tail magic ${new String(magic, UTF_8).map(
          ch => if (ch >= ' ' && ch < 127) ch else '?')} is neither GRF1 nor PAR1")
      val footerLen = ByteBuffer.wrap(tail, tail.length - TailLen, 4).getInt
      if (footerLen < 1 || footerLen.toLong + TailLen > len) throw new IllegalStateException(
        s"$path: truncated graft chunk file, footer of $footerLen bytes in a $len-byte file")
      val dataEnd = len - TailLen - footerLen
      val footer =
        if (footerLen + TailLen <= tail.length)
          ByteBuffer.wrap(tail, tail.length - TailLen - footerLen, footerLen).slice()
        else {
          val b = new Array[Byte](footerLen)
          readAt(in, dataEnd, b)
          ByteBuffer.wrap(b)
        }
      val entries =
        try parseFooter(footer, dataEnd, keep, column)
        catch {
          case e @ (_: java.nio.BufferUnderflowException | _: IllegalArgumentException |
                    _: IndexOutOfBoundsException | _: NegativeArraySizeException) =>
            throw new IllegalStateException(s"$path: garbled graft chunk footer (${e})", e)
        }
      Some(new Reader(in, entries))
    } catch {
      case e: Throwable => in.close(); throw e
    }
  }

  /** The rows of chunk file `path` without their stream blobs, in file
    * order, from either generation: a container file's footer, or a
    * parquet-generation file read through parquet-mr with `streams`
    * projected away. `column` names the rows of a column-partitioned
    * file (its `column=` directory). The engine's one reader of a table's
    * chunk metadata (`TableMeta`'s index).
    */
  def chunks(path: Path, conf: Configuration, knownLength: Long = -1L,
             column: String = null): Array[EncodedChunk] =
    open(path, conf, knownLength = knownLength, column = column) match {
      case Some(reader) => reader.close(); reader.entries.map(_.chunk)
      case None =>
        val noStreams = new GroupReadSupport {
          override def init(context: InitContext): ReadSupport.ReadContext = {
            val file = context.getFileSchema
            new ReadSupport.ReadContext(new MessageType(file.getName,
              file.getFields.asScala.filterNot(_.getName == "streams").asJava))
          }
        }
        val reader = HadoopFiles.groupReader(path, conf, noStreams).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(g => graft.spark.source.ChunkGroupParser.parse(g, Option(column))).toArray
        finally reader.close()
    }

  /** Reads `b.length` bytes at `pos`: a seek and a sequential read, not
    * the positional `readFully(pos, ...)`, which on a checksummed local
    * filesystem reopens the file and its checksum file per call.
    */
  private def readAt(in: FSDataInputStream, pos: Long, b: Array[Byte]): Unit = {
    in.seek(pos)
    in.readFully(b)
  }

  private def parseFooter(f: ByteBuffer, dataEnd: Long, keep: String => Boolean,
                          fileColumn: String): Array[Entry] = {
    val version = f.get() & 0xff
    require(version == Version, s"footer version $version, this engine reads $Version")
    def getStr(): String = {
      val n = f.getInt
      require(n >= 0 && n <= f.remaining(), s"string of $n bytes")
      val s = new String(f.array(), f.arrayOffset() + f.position(), n, UTF_8)
      f.position(f.position() + n)
      s
    }
    def opt[T](read: => T): Option[T] = f.get() match {
      case 0 => None
      case 1 => Some(read)
      case b => throw new IllegalArgumentException(s"presence byte $b")
    }
    def count(): Int = {
      val n = f.getInt
      require(n >= 0 && n <= f.remaining(), s"count $n")
      n
    }
    def getLongs(): Seq[Long] = {
      val a = new Array[Long](count())
      f.asLongBuffer().get(a)
      f.position(f.position() + 8 * a.length)
      a.toSeq
    }
    def getInts(): Seq[Int] = {
      val a = new Array[Int](count())
      f.asIntBuffer().get(a)
      f.position(f.position() + 4 * a.length)
      a.toSeq
    }
    val out = Array.newBuilder[Entry]
    while (f.hasRemaining) {
      val rowLen = f.getInt
      require(rowLen >= 0 && rowLen <= f.remaining(), s"row of $rowLen bytes")
      val rowEnd = f.position() + rowLen
      val named = opt(getStr()).orNull
      val column = if (named != null) named else fileColumn
      if (named != null && !keep(named)) f.position(rowEnd)
      else {
        val partId = f.getInt
        val chunkId = f.getInt
        val firstRow = f.getLong
        val codec = opt(getStr()).orNull
        val rowCount = f.getInt
        val nullCount = f.getInt
        val rawBytes = f.getLong
        val encodedBytes = f.getLong
        val minVal = opt(getStr())
        val maxVal = opt(getStr())
        val sumVal = opt(f.getLong)
        val strideRows = f.getInt
        val strideMins = opt(getLongs())
        val strideMaxs = opt(getLongs())
        val compression = opt(getStr())
        val strideNulls = opt(getInts())
        val bloom = opt { val b = new Array[Byte](count()); f.get(b); b }
        val nanCount = opt(f.getInt)
        val hasSegs = opt(()).isDefined
        val n = count()
        val refs = Array.newBuilder[StreamRef]
        val segs = Map.newBuilder[String, Seq[Int]]
        var i = 0
        while (i < n) {
          val name = getStr()
          val flags = f.get()
          if ((flags & StreamFlag) != 0) {
            val off = f.getLong
            val len = f.getInt
            require(off >= 0 && len >= 0 && off + len <= dataEnd,
              s"stream $name at [$off, +$len) outside the data region")
            refs += StreamRef(name, off, len)
          }
          if ((flags & SegsFlag) != 0) segs += name -> getInts()
          i += 1
        }
        require(f.position() == rowEnd, s"row ends at ${f.position()}, its length says $rowEnd")
        out += Entry(EncodedChunk(partId, chunkId, firstRow, column, codec, rowCount, nullCount,
          Map.empty, rawBytes, encodedBytes, minVal, maxVal, sumVal, strideRows, strideMins,
          strideMaxs, compression, if (hasSegs) Some(segs.result()) else None, strideNulls,
          bloom, nanCount), refs.result())
      }
    }
    out.result()
  }
}
