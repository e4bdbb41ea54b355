package graft.core

import java.nio.ByteBuffer
import java.util.zip.{Deflater, Inflater}

/** ORC-style block compression framing: the stream is split into blocks of
  * ≤ blockSize bytes, each preceded by a 3-byte little-endian header
  * `(len << 1) | isOriginal`; a block that deflate would grow is stored
  * uncompressed with isOriginal=1 (skip-compression-if-bigger, like
  * OrcCompressedStream.cs:49-107, ZLib.cs:10-71).
  *
  * Block size defaults to 256 KiB like the reference
  * (WriterConfiguration.cs:24); compression level defaults to BEST_SPEED —
  * the reference's CompressionStrategy.Speed maps to zlib Fastest
  * (CompressionFactory.cs:21-47).
  *
  * Concurrency design: Deflater/Inflater instances are ThreadLocal-reused
  * (per-stream construction causes native alloc + Cleaner churn), and all
  * zlib I/O goes through thread-local DIRECT ByteBuffers. Heap-array
  * setInput/deflate pins the array with JNI GetPrimitiveArrayCritical for
  * the duration of each native call; with 32 encode threads those critical
  * sections continually delay GC (GCLocker-initiated collections, observed
  * young pauses of 1-4 s) and serialize the whole JVM. Direct buffers take
  * the GCLocker out of the loop at the cost of one memcpy per block —
  * ~5 GB/s against deflate's ~0.1 GB/s, i.e. free.
  *
  * Byte-identity of deflate output across implementations is not
  * guaranteed, so invariants bind on decompressed bytes and total size,
  * never compressed bytes.
  */
object ZlibBlock {
  final val DefaultBlockSize: Int = 256 * 1024
  private final val MaxBlockLen = 0x7fffff

  private val localDeflater = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater = new Deflater(Deflater.BEST_SPEED, true)
  }
  private val localInflater = new ThreadLocal[Inflater] {
    override def initialValue(): Inflater = new Inflater(true)
  }
  private val localIn = new ThreadLocal[ByteBuffer] {
    override def initialValue(): ByteBuffer = ByteBuffer.allocateDirect(DefaultBlockSize + 1024)
  }
  private val localOut = new ThreadLocal[ByteBuffer] {
    override def initialValue(): ByteBuffer = ByteBuffer.allocateDirect(DefaultBlockSize + 1024)
  }
  private val localScratch = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](DefaultBlockSize + 1024)
  }

  private def directBuf(tl: ThreadLocal[ByteBuffer], need: Int): ByteBuffer = {
    var b = tl.get()
    if (b.capacity() < need) {
      b = ByteBuffer.allocateDirect(need)
      tl.set(b)
    }
    b
  }

  def compress(data: Array[Byte], blockSize: Int = DefaultBlockSize): Array[Byte] = {
    if (data.isEmpty) return Array.emptyByteArray
    val out = new ByteBuf(data.length / 2 + 64)
    val deflater = localDeflater.get()
    val inBuf = directBuf(localIn, blockSize + 1024)
    val outBuf = directBuf(localOut, blockSize + 1024)
    var scratch = localScratch.get()
    if (scratch.length < blockSize + 1024) {
      scratch = new Array[Byte](blockSize + 1024)
      localScratch.set(scratch)
    }
    var off = 0
    while (off < data.length) {
      val n = math.min(blockSize, data.length - off)
      inBuf.clear(); inBuf.put(data, off, n); inBuf.flip()
      deflater.reset()
      deflater.setInput(inBuf)
      deflater.finish()
      outBuf.clear()
      var overflow = false
      while (!deflater.finished() && !overflow) {
        deflater.deflate(outBuf)
        if (!outBuf.hasRemaining && !deflater.finished()) overflow = true
      }
      val produced = outBuf.position()
      // skip-compression-if-bigger: store the original block
      if (overflow || produced >= n) writeBlock(out, data, off, n, isOriginal = true)
      else {
        outBuf.flip(); outBuf.get(scratch, 0, produced)
        writeBlock(out, scratch, 0, produced, isOriginal = false)
      }
      off += n
    }
    out.toArray
  }

  private def writeBlock(out: ByteBuf, src: Array[Byte], off: Int, len: Int,
                         isOriginal: Boolean): Unit = {
    require(len <= MaxBlockLen, s"block of $len B exceeds 3-byte header limit")
    val header = (len << 1) | (if (isOriginal) 1 else 0)
    out.writeByte(header & 0xff)
    out.writeByte((header >>> 8) & 0xff)
    out.writeByte((header >>> 16) & 0xff)
    out.writeBytes(src, off, len)
  }

  def decompress(data: Array[Byte]): Array[Byte] = decompress(data, 0, data.length)

  /** Decompress the framed blocks at `data[off, off + len)`. */
  def decompress(data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val end = off + len
    val out = new ByteBuf(len * 2 + 64)
    val inflater = localInflater.get()
    val inBuf = directBuf(localIn, DefaultBlockSize + 1024)
    val outBuf = directBuf(localOut, DefaultBlockSize + 1024)
    var scratch = localScratch.get()
    if (scratch.length < outBuf.capacity()) {
      scratch = new Array[Byte](outBuf.capacity())
      localScratch.set(scratch)
    }
    var pos = off
    while (pos < end) {
      if (pos + 3 > end) throw new IllegalStateException("truncated block header")
      val raw = (data(pos) & 0xff) | ((data(pos + 1) & 0xff) << 8) | ((data(pos + 2) & 0xff) << 16)
      pos += 3
      val blockLen = raw >>> 1
      val isOriginal = (raw & 1) == 1
      if (pos + blockLen > end) throw new IllegalStateException("truncated block body")
      if (isOriginal) out.writeBytes(data, pos, blockLen)
      else {
        var fed = 0 // feed oversized blocks through the direct buffer in slices
        inflater.reset()
        while (!inflater.finished()) {
          if (inflater.needsInput()) {
            if (fed >= blockLen) throw new IllegalStateException("inflater stalled (corrupt block?)")
            val slice = math.min(inBuf.capacity(), blockLen - fed)
            inBuf.clear(); inBuf.put(data, pos + fed, slice); inBuf.flip()
            inflater.setInput(inBuf)
            fed += slice
          }
          outBuf.clear()
          val m = inflater.inflate(outBuf)
          if (m > 0) {
            outBuf.flip(); outBuf.get(scratch, 0, m)
            out.writeBytes(scratch, 0, m)
          } else if (!inflater.finished() && !inflater.needsInput())
            throw new IllegalStateException("inflater stalled (corrupt block?)")
        }
      }
      pos += blockLen
    }
    out.toArray
  }
}
