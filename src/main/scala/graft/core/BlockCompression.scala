package graft.core

import com.github.luben.zstd.{Zstd => ZstdJni}

/** Stream-blob compression kinds, matching the ORC spec's CompressionKind
  * surface (NONE/ZLIB/LZ4/ZSTD — the reference wires only ZLIB,
  * CompressionFactory.cs:21-47; LZ4/ZSTD are spec'd kinds this engine
  * adds for the throughput/ratio trade at scale).
  *
  * - zlib: the ORC 3-byte block framing (ZlibBlock) — the parity mode,
  *   size-comparable with the reference: `TableEncoder.encode`'s default
  *   and what an explicit `compression=zlib` table writes.
  * - zstd: one whole-stream zstd frame behind a 1-byte raw/compressed
  *   flag — the table-write default (`EncodeJob.Config`). Measured on
  *   WebGen pages it encodes ~1.7× and decodes ~1.8× faster than zlib
  *   tables at a slightly smaller size. No sub-blocking: chunk streams
  *   are whole-blob addressable here (SURVEY §2.5), so the zlib path's
  *   seekable 256 KiB blocks buy nothing.
  * - lz4: flag + varint original length + one LZ4 block. Fastest, worst
  *   ratio — for pipelines bounded by CPU, not storage.
  * - none: identity (the raw streams are already entropy-coded by the
  *   value codecs for many columns).
  *
  * Every payload is self-describing given its kind (recorded per chunk),
  * and skip-compression-if-bigger applies to all kinds like the
  * reference's OrcCompressedStream.cs:49-107.
  */
object BlockCompression {
  final val Zlib = "zlib"
  final val Zstd = "zstd"
  final val Lz4 = "lz4"
  final val None_ = "none"

  final val All: Seq[String] = Seq(Zlib, Zstd, Lz4, None_)

  /** zstd level 1 ≈ deflate BEST_SPEED's ratio at several times the
    * throughput; levels are a future knob, parity with the reference's
    * Speed strategy for now.
    */
  private final val ZstdLevel = 1

  private final val FlagRaw: Byte = 0
  private final val FlagCompressed: Byte = 1

  private lazy val lz4Compressor = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
  private lazy val lz4Decompressor = net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()

  def compress(kind: String, data: Array[Byte]): Array[Byte] = kind match {
    case Zlib  => ZlibBlock.compress(data)
    case None_ => data
    case Zstd =>
      if (data.isEmpty) return Array.emptyByteArray
      val comp = ZstdJni.compress(data, ZstdLevel)
      if (comp.length + 1 >= data.length + 1) flagged(FlagRaw, data)
      else flagged(FlagCompressed, comp)
    case Lz4 =>
      if (data.isEmpty) return Array.emptyByteArray
      val comp = lz4Compressor.compress(data)
      if (comp.length + 6 >= data.length + 1) flagged(FlagRaw, data)
      else {
        val out = new ByteBuf(comp.length + 6)
        out.writeByte(FlagCompressed.toInt)
        BitOps.writeVarIntUnsigned(out, data.length.toLong)
        out.writeBytes(comp)
        out.toArray
      }
    case other => throw new IllegalArgumentException(s"unknown compression kind: $other")
  }

  /** Observability: compressed bytes fed through decompress() since the
    * last reset, JVM-wide (local-mode tests read it to prove stride
    * pruning skips decompression work, not just row materialization).
    * One atomic add per stream blob/segment — negligible next to the
    * codec work itself.
    */
  private val decompressedIn = new java.util.concurrent.atomic.AtomicLong()
  def decompressInputBytes: Long = decompressedIn.get()
  def resetCounters(): Unit = decompressedIn.set(0L)

  def decompress(kind: String, data: Array[Byte]): Array[Byte] =
    decompress(kind, data, 0, data.length)

  /** Decompress the blob at `data[off, off + len)` in place — a stream
    * segment of a larger chunk blob needs no copy of its own.
    */
  def decompress(kind: String, data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    decompressedIn.addAndGet(len.toLong)
    decompressImpl(kind, data, off, len)
  }

  private def decompressImpl(kind: String, data: Array[Byte], off: Int, len: Int): Array[Byte] =
    kind match {
      case Zlib  => ZlibBlock.decompress(data, off, len)
      case None_ => slice(data, off, len)
      case Zstd =>
        if (len == 0) return Array.emptyByteArray
        if (data(off) == FlagRaw) slice(data, off + 1, len - 1)
        else {
          val size = ZstdJni.getFrameContentSize(data, off + 1, len - 1)
          require(size >= 0 && size <= Int.MaxValue, s"bad zstd frame content size: $size")
          val out = new Array[Byte](size.toInt)
          val n = ZstdJni.decompressByteArray(out, 0, out.length, data, off + 1, len - 1)
          require(!ZstdJni.isError(n), s"zstd decompress failed: ${ZstdJni.getErrorName(n)}")
          require(n == size, s"zstd short decompress: $n of $size")
          out
        }
      case Lz4 =>
        if (len == 0) return Array.emptyByteArray
        if (data(off) == FlagRaw) slice(data, off + 1, len - 1)
        else {
          val in = new BytesIn(data, off, off + len)
          in.checkedByte() // flag
          val origLen = BitOps.readVarIntUnsigned(in).toInt
          val out = new Array[Byte](origLen)
          val read = lz4Decompressor.decompress(data, in.pos, off + len - in.pos, out, 0)
          require(read == origLen, s"lz4 short decompress: $read of $origLen")
          out
        }
      case other => throw new IllegalArgumentException(s"unknown compression kind: $other")
    }

  /** `data[off, off + len)`, the array itself when that is all of it. */
  private def slice(data: Array[Byte], off: Int, len: Int): Array[Byte] =
    if (off == 0 && len == data.length) data
    else java.util.Arrays.copyOfRange(data, off, off + len)

  private def flagged(flag: Byte, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](payload.length + 1)
    out(0) = flag
    System.arraycopy(payload, 0, out, 1, payload.length)
    out
  }
}
