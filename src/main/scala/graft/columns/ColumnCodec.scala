package graft.columns

import graft.core._
import java.nio.charset.StandardCharsets

/** Stream kinds, matching the reference's per-column stream model
  * (/root/reference/src/ApacheOrcDotNet/Protocol/Stream.cs:10-21).
  */
object Streams {
  final val Present = "PRESENT"
  final val Data = "DATA"
  final val Length = "LENGTH"
  final val DictionaryData = "DICTIONARY_DATA"
  final val Secondary = "SECONDARY"
  final val SymbolTable = "SYMBOL_TABLE" // FSST addition (not in reference)
}

/** Codec identifiers recorded in chunk lineage. */
object Codecs {
  final val LongRleV2 = "LONG_RLEV2"
  final val StringDirect = "STRING_DIRECT"
  final val StringDictV2 = "STRING_DICT"
  final val StringFsst = "STRING_FSST"
  final val Binary = "BINARY"
  final val TimestampFor = "TIMESTAMP_FOR"
  final val Date = "DATE"
  final val Bool = "BOOL"
  final val ByteRleC = "BYTE_RLE"
  final val DoubleRaw = "DOUBLE_RAW"
  final val FloatRaw = "FLOAT_RAW"
  final val Decimal18 = "DECIMAL18"
  final val Decimal128 = "DECIMAL128"
}

/** One encoded column chunk: named byte streams + row/null counts.
  * PRESENT is omitted when the chunk has no nulls (the reference's
  * MustBeIncluded=false behavior, LongWriter.cs:28,78-79).
  */
final case class ColumnStreams(codec: String, rowCount: Int, nullCount: Int,
                               streams: Map[String, Array[Byte]]) {
  def totalBytes: Long = streams.valuesIterator.map(_.length.toLong).sum
}

/** Column-level encoders/decoders: split nulls into PRESENT, encode
  * non-null values into DATA(+LENGTH/SECONDARY/DICTIONARY_DATA). The
  * per-type stream assembly mirrors /root/reference/src/ApacheOrcDotNet/
  * ColumnTypes/{Long,Byte,Boolean,Double,Float,Binary,String,Timestamp,
  * Date,Decimal}Writer.cs; the FSST string path is a north-rule addition.
  */
object ColumnCodec {

  // ---------- helpers ----------

  private def presentStream(present: Array[Boolean]): Array[Byte] = {
    val out = new ByteBuf(present.length / 8 + 8)
    BitCodec.write(out, present)
    out.toArray
  }

  private def withPresent(base: Map[String, Array[Byte]], present: Array[Boolean],
                          nullCount: Int): Map[String, Array[Byte]] =
    if (nullCount == 0) base else base + (Streams.Present -> presentStream(present))

  private def readPresent(cs: ColumnStreams): Array[Boolean] =
    cs.streams.get(Streams.Present) match {
      case Some(bytes) => BitCodec.read(new BytesIn(bytes), cs.rowCount)
      case None        => Array.fill(cs.rowCount)(true)
    }

  @inline private def countNulls(present: Array[Boolean]): Int = {
    var n = 0
    var i = 0
    while (i < present.length) { if (!present(i)) n += 1; i += 1 }
    n
  }

  // ---------- LONG (all integer widths funnel here) ----------

  def encodeLong(values: Array[Long], present: Array[Boolean], aligned: Boolean = false): ColumnStreams = {
    val nullCount = countNulls(present)
    val data = new ByteBuf(values.length)
    RleV2Writer.write(data, values, signed = true, aligned = aligned)
    ColumnStreams(Codecs.LongRleV2, present.length, nullCount,
      withPresent(Map(Streams.Data -> data.toArray), present, nullCount))
  }

  /** Returns (values for non-null rows in row order, present bitmap). */
  def decodeLong(cs: ColumnStreams): (Array[Long], Array[Boolean]) = {
    val present = readPresent(cs)
    val values = RleV2Reader.read(new BytesIn(cs.streams(Streams.Data)), signed = true,
      cs.rowCount - cs.nullCount)
    (values, present)
  }

  // ---------- BOOLEAN ----------

  def encodeBool(values: Array[Boolean], present: Array[Boolean]): ColumnStreams = {
    val nullCount = countNulls(present)
    val data = new ByteBuf(values.length / 8 + 8)
    BitCodec.write(data, values)
    ColumnStreams(Codecs.Bool, present.length, nullCount,
      withPresent(Map(Streams.Data -> data.toArray), present, nullCount))
  }

  def decodeBool(cs: ColumnStreams): (Array[Boolean], Array[Boolean]) = {
    val present = readPresent(cs)
    val values = BitCodec.read(new BytesIn(cs.streams(Streams.Data)), cs.rowCount - cs.nullCount)
    (values, present)
  }

  // ---------- BYTE ----------

  def encodeByte(values: Array[Byte], present: Array[Boolean]): ColumnStreams = {
    val nullCount = countNulls(present)
    val data = new ByteBuf(values.length)
    ByteRle.write(data, values)
    ColumnStreams(Codecs.ByteRleC, present.length, nullCount,
      withPresent(Map(Streams.Data -> data.toArray), present, nullCount))
  }

  def decodeByte(cs: ColumnStreams): (Array[Byte], Array[Boolean]) = {
    val present = readPresent(cs)
    val values = ByteRle.readAll(new BytesIn(cs.streams(Streams.Data)))
    require(values.length == cs.rowCount - cs.nullCount, "BYTE stream length mismatch")
    (values, present)
  }

  // ---------- DOUBLE / FLOAT (raw IEEE754 LE) ----------

  def encodeDouble(values: Array[Double], present: Array[Boolean]): ColumnStreams = {
    val nullCount = countNulls(present)
    val bb = java.nio.ByteBuffer.allocate(values.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    values.foreach(bb.putDouble)
    ColumnStreams(Codecs.DoubleRaw, present.length, nullCount,
      withPresent(Map(Streams.Data -> bb.array()), present, nullCount))
  }

  def decodeDouble(cs: ColumnStreams): (Array[Double], Array[Boolean]) = {
    val present = readPresent(cs)
    val bytes = cs.streams(Streams.Data)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val values = new Array[Double](cs.rowCount - cs.nullCount)
    var i = 0
    while (i < values.length) { values(i) = bb.getDouble(); i += 1 }
    (values, present)
  }

  def encodeFloat(values: Array[Float], present: Array[Boolean]): ColumnStreams = {
    val nullCount = countNulls(present)
    val bb = java.nio.ByteBuffer.allocate(values.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    values.foreach(bb.putFloat)
    ColumnStreams(Codecs.FloatRaw, present.length, nullCount,
      withPresent(Map(Streams.Data -> bb.array()), present, nullCount))
  }

  def decodeFloat(cs: ColumnStreams): (Array[Float], Array[Boolean]) = {
    val present = readPresent(cs)
    val bb = java.nio.ByteBuffer.wrap(cs.streams(Streams.Data)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val values = new Array[Float](cs.rowCount - cs.nullCount)
    var i = 0
    while (i < values.length) { values(i) = bb.getFloat(); i += 1 }
    (values, present)
  }

  // ---------- BINARY ----------

  def encodeBinary(values: Array[Array[Byte]], present: Array[Boolean],
                   aligned: Boolean = false): ColumnStreams = {
    val nullCount = countNulls(present)
    val data = new ByteBuf(1024)
    val lengths = new Array[Long](values.length)
    var i = 0
    while (i < values.length) {
      data.writeBytes(values(i))
      lengths(i) = values(i).length
      i += 1
    }
    val lengthBuf = new ByteBuf(values.length)
    RleV2Writer.write(lengthBuf, lengths, signed = false, aligned = aligned)
    ColumnStreams(Codecs.Binary, present.length, nullCount,
      withPresent(Map(Streams.Data -> data.toArray, Streams.Length -> lengthBuf.toArray), present, nullCount))
  }

  def decodeBinary(cs: ColumnStreams): (Array[Array[Byte]], Array[Boolean]) = {
    val present = readPresent(cs)
    val n = cs.rowCount - cs.nullCount
    val lengths = RleV2Reader.read(new BytesIn(cs.streams(Streams.Length)), signed = false, n)
    val data = cs.streams(Streams.Data)
    val values = new Array[Array[Byte]](n)
    var off = 0
    var i = 0
    while (i < n) {
      val len = lengths(i).toInt
      values(i) = java.util.Arrays.copyOfRange(data, off, off + len)
      off += len
      i += 1
    }
    (values, present)
  }

  // ---------- STRING: direct ----------
  // Byte-oriented core: the encode hot path carries UTF-8 bytes
  // end-to-end (TableEncoder shreds string columns to binary inside the
  // codegen'd projection), so no UTF-16 String ever materializes per
  // value. The Array[String] overloads are thin converters kept for the
  // column-level test surface.

  def encodeStrBytesDirect(values: Array[Array[Byte]], present: Array[Boolean],
                           aligned: Boolean = false): ColumnStreams = {
    val nullCount = countNulls(present)
    var total = 0L
    var i = 0
    while (i < values.length) { total += values(i).length; i += 1 }
    val data = new ByteBuf(math.min(total, Int.MaxValue / 2).toInt + 64)
    val lengths = new Array[Long](values.length)
    i = 0
    while (i < values.length) {
      data.writeBytes(values(i))
      lengths(i) = values(i).length
      i += 1
    }
    val lengthBuf = new ByteBuf(values.length)
    RleV2Writer.write(lengthBuf, lengths, signed = false, aligned = aligned)
    ColumnStreams(Codecs.StringDirect, present.length, nullCount,
      withPresent(Map(Streams.Data -> data.toArray, Streams.Length -> lengthBuf.toArray), present, nullCount))
  }

  def encodeStringDirect(values: Array[String], present: Array[Boolean],
                         aligned: Boolean = false): ColumnStreams =
    encodeStrBytesDirect(values.map(_.getBytes(StandardCharsets.UTF_8)), present, aligned)

  // ---------- STRING: sorted dictionary ----------

  /** Dedupe on UTF-8 BYTES first: dict columns are low-cardinality by
    * selection, so the per-ROW hot path must not allocate — the UTF-16
    * conversion (needed only for the reference's UTF-16-ordinal dictionary
    * sort, StringWriter.cs:187) happens once per DISTINCT value. Distinct
    * byte sequences that decode to the same String (malformed UTF-8 →
    * U+FFFD) still collapse to one dictionary entry, exactly as when every
    * row was converted first.
    */
  def encodeStrBytesDict(values: Array[Array[Byte]], present: Array[Boolean],
                         aligned: Boolean = false): ColumnStreams = {
    val nullCount = countNulls(present)
    val byteIds = new java.util.HashMap[java.nio.ByteBuffer, Integer]()
    val distinct = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    val provisionalIds = new Array[Int](values.length)
    var i = 0
    while (i < values.length) {
      val bb = java.nio.ByteBuffer.wrap(values(i))
      val existing = byteIds.get(bb)
      if (existing != null) provisionalIds(i) = existing.intValue()
      else {
        val id = distinct.length
        byteIds.put(bb, Integer.valueOf(id))
        distinct += values(i)
        provisionalIds(i) = id
      }
      i += 1
    }
    val dict = new StringDict
    val distinctIds = new Array[Int](distinct.length) // byte-id → dict-id
    var d = 0
    while (d < distinct.length) {
      distinctIds(d) = dict.add(new String(distinct(d), StandardCharsets.UTF_8))
      d += 1
    }
    val (sortedValues, remap) = dict.freeze()
    val (dictData, dictLengths) = StringDict.serialize(sortedValues)

    val lookup = new Array[Long](values.length)
    i = 0
    while (i < values.length) { lookup(i) = remap(distinctIds(provisionalIds(i))).toLong; i += 1 }

    val dataBuf = new ByteBuf(values.length)
    RleV2Writer.write(dataBuf, lookup, signed = false, aligned = aligned)
    val lengthBuf = new ByteBuf(sortedValues.length + 8)
    RleV2Writer.write(lengthBuf, dictLengths, signed = false, aligned = aligned)

    ColumnStreams(Codecs.StringDictV2, present.length, nullCount,
      withPresent(Map(
        Streams.Data -> dataBuf.toArray,
        Streams.Length -> lengthBuf.toArray,
        Streams.DictionaryData -> dictData), present, nullCount))
  }

  def encodeStringDict(values: Array[String], present: Array[Boolean],
                       aligned: Boolean = false): ColumnStreams =
    encodeStrBytesDict(values.map(_.getBytes(StandardCharsets.UTF_8)), present, aligned)

  // ---------- STRING: FSST ----------

  def encodeStrBytesFsst(rawBytes: Array[Array[Byte]], present: Array[Boolean],
                         pretrained: Fsst.SymbolTable = null,
                         aligned: Boolean = false): ColumnStreams = {
    val nullCount = countNulls(present)
    val table =
      if (pretrained != null) pretrained
      else Fsst.trainValues(rawBytes.iterator)
    val data = new ByteBuf(4096)
    val lengths = new Array[Long](rawBytes.length) // compressed byte length per value
    var i = 0
    while (i < rawBytes.length) {
      val before = data.length
      Fsst.compress(table, rawBytes(i), data)
      lengths(i) = data.length - before
      i += 1
    }
    val lengthBuf = new ByteBuf(rawBytes.length)
    RleV2Writer.write(lengthBuf, lengths, signed = false, aligned = aligned)
    val tableBuf = new ByteBuf(1024)
    table.serialize(tableBuf)
    ColumnStreams(Codecs.StringFsst, present.length, nullCount,
      withPresent(Map(
        Streams.Data -> data.toArray,
        Streams.Length -> lengthBuf.toArray,
        Streams.SymbolTable -> tableBuf.toArray), present, nullCount))
  }

  def encodeStringFsst(values: Array[String], present: Array[Boolean],
                       pretrained: Fsst.SymbolTable = null): ColumnStreams =
    encodeStrBytesFsst(values.map(_.getBytes(StandardCharsets.UTF_8)), present, pretrained)

  /** Byte-oriented string decode (the Spark decode path; strings travel
    * as binary through the physical schema and are cast back in unshred).
    */
  def decodeStrBytes(cs: ColumnStreams): (Array[Array[Byte]], Array[Boolean]) = {
    val present = readPresent(cs)
    val n = cs.rowCount - cs.nullCount
    val values: Array[Array[Byte]] = cs.codec match {
      case Codecs.StringDirect =>
        val lengths = RleV2Reader.read(new BytesIn(cs.streams(Streams.Length)), signed = false, n)
        val data = cs.streams(Streams.Data)
        val out = new Array[Array[Byte]](n)
        var off = 0
        var i = 0
        while (i < n) {
          val len = lengths(i).toInt
          out(i) = java.util.Arrays.copyOfRange(data, off, off + len)
          off += len
          i += 1
        }
        out
      case Codecs.StringDictV2 =>
        val lookup = RleV2Reader.read(new BytesIn(cs.streams(Streams.Data)), signed = false, n)
        val lengths = RleV2Reader.readAll(new BytesIn(cs.streams(Streams.Length)), signed = false)
        val dict = StringDict.deserialize(cs.streams(Streams.DictionaryData), lengths)
          .map(_.getBytes(StandardCharsets.UTF_8))
        lookup.map(id => dict(id.toInt)) // aliased entries: callers treat values as read-only
      case Codecs.StringFsst =>
        val s = fsstSlices(cs, n)
        Array.tabulate(n)(i => java.util.Arrays.copyOfRange(s.buf, s.starts(i), s.starts(i) + s.lens(i)))
      case other => throw new IllegalArgumentException(s"not a string codec: $other")
    }
    (values, present)
  }

  /** One decoded byte-slice column: a single backing buffer plus
    * per-value (start, length). The hot Spark decode path writes slices
    * straight into UnsafeRows, so the per-value Array[Byte] allocations
    * of decodeStrBytes/decodeBinary (one object + copy per value — the
    * dominant decode allocation for text/html columns) disappear.
    */
  final case class ByteSlices(buf: Array[Byte], starts: Array[Int], lens: Array[Int])

  def decodeBinarySlices(cs: ColumnStreams): (ByteSlices, Array[Boolean]) = {
    val present = readPresent(cs)
    val n = cs.rowCount - cs.nullCount
    val lengths = RleV2Reader.read(new BytesIn(cs.streams(Streams.Length)), signed = false, n)
    // zero copies: slices point into the decompressed DATA stream itself
    (slicesOf(cs.streams(Streams.Data), lengths, n), present)
  }

  /** `keepRows` (one flag per row, null for all): an FSST column
    * decompresses only the values of kept rows, the LENGTH stream giving
    * each value's offset; the other values read as empty slices. Direct
    * and dictionary slices cost nothing per value and are all decoded.
    */
  def decodeStrSlices(cs: ColumnStreams, keepRows: Array[Boolean] = null): (ByteSlices, Array[Boolean]) = {
    val present = readPresent(cs)
    val n = cs.rowCount - cs.nullCount
    val slices = cs.codec match {
      case Codecs.StringDirect =>
        val lengths = RleV2Reader.read(new BytesIn(cs.streams(Streams.Length)), signed = false, n)
        slicesOf(cs.streams(Streams.Data), lengths, n)
      case Codecs.StringDictV2 =>
        // one concat of the (sorted) dictionary; every value is a slice of it
        val lookup = RleV2Reader.read(new BytesIn(cs.streams(Streams.Data)), signed = false, n)
        val lengths = RleV2Reader.readAll(new BytesIn(cs.streams(Streams.Length)), signed = false)
        val dictBuf = cs.streams(Streams.DictionaryData)
        val dictStarts = new Array[Int](lengths.length)
        var off = 0
        var d = 0
        while (d < lengths.length) { dictStarts(d) = off; off += lengths(d).toInt; d += 1 }
        val starts = new Array[Int](n)
        val lens = new Array[Int](n)
        var i = 0
        while (i < n) {
          val id = lookup(i).toInt
          starts(i) = dictStarts(id)
          lens(i) = lengths(id).toInt
          i += 1
        }
        ByteSlices(dictBuf, starts, lens)
      case Codecs.StringFsst if keepRows != null => fsstSlicesAt(cs, n, present, keepRows)
      case Codecs.StringFsst => fsstSlices(cs, n)
      case other => throw new IllegalArgumentException(s"not a string codec: $other")
    }
    (slices, present)
  }

  /** FSST values of the kept rows only, decompressed into one buffer
    * sized like `fsstSlices`' from the kept values' codes.
    */
  private def fsstSlicesAt(cs: ColumnStreams, n: Int, present: Array[Boolean],
                           keepRows: Array[Boolean]): ByteSlices = {
    val table = Fsst.SymbolTable.deserialize(new BytesIn(cs.streams(Streams.SymbolTable)))
    val lengths = RleV2Reader.read(new BytesIn(cs.streams(Streams.Length)), signed = false, n)
    val data = cs.streams(Streams.Data)
    val offs = new Array[Int](n + 1)
    val wanted = new Array[Boolean](n)
    var coded = 0L
    var v = 0
    var r = 0
    while (r < present.length) {
      if (present(r)) {
        offs(v + 1) = offs(v) + lengths(v).toInt
        if (keepRows(r)) { wanted(v) = true; coded += lengths(v) }
        v += 1
      }
      r += 1
    }
    var big = new Array[Byte]((coded * 3 + 64).toInt)
    var sized = false
    val starts = new Array[Int](n)
    val lens = new Array[Int](n)
    var o = 0
    v = 0
    while (v < n) {
      if (wanted(v)) {
        val len = offs(v + 1) - offs(v)
        if (!sized && o + len.toLong * Fsst.MaxSymbolLen + 8 > big.length) {
          var need = o + 8
          var w = v
          while (w < n) {
            if (wanted(w)) need += Fsst.decodedLength(table, data, offs(w), offs(w + 1))
            w += 1
          }
          if (need > big.length) big = java.util.Arrays.copyOf(big, need)
          sized = true
        }
        starts(v) = o
        o = Fsst.decompressInto(table, data, offs(v), offs(v + 1), big, o)
        lens(v) = o - starts(v)
      }
      v += 1
    }
    ByteSlices(big, starts, lens)
  }

  /** Decompress every FSST value into ONE buffer. It starts at 3× the
    * coded size; once a value's worst case (MaxSymbolLen per code, plus
    * the 8 bytes of slack decompressInto needs) might not fit, a pass over
    * the remaining codes sizes it exactly, so it is resized at most once
    * and that pass covers only the tail of most streams.
    */
  private def fsstSlices(cs: ColumnStreams, n: Int): ByteSlices = {
    val table = Fsst.SymbolTable.deserialize(new BytesIn(cs.streams(Streams.SymbolTable)))
    val lengths = RleV2Reader.read(new BytesIn(cs.streams(Streams.Length)), signed = false, n)
    val data = cs.streams(Streams.Data)
    var big = new Array[Byte](data.length * 3 + 64)
    var sized = false
    val starts = new Array[Int](n)
    val lens = new Array[Int](n)
    var o = 0
    var off = 0
    var i = 0
    while (i < n) {
      val len = lengths(i).toInt
      if (!sized && o + len.toLong * Fsst.MaxSymbolLen + 8 > big.length) {
        val need = o + Fsst.decodedLength(table, data, off, data.length) + 8
        if (need > big.length) big = java.util.Arrays.copyOf(big, need)
        sized = true
      }
      starts(i) = o
      o = Fsst.decompressInto(table, data, off, off + len, big, o)
      lens(i) = o - starts(i)
      off += len
      i += 1
    }
    ByteSlices(big, starts, lens)
  }

  private def slicesOf(data: Array[Byte], lengths: Array[Long], n: Int): ByteSlices = {
    val starts = new Array[Int](n)
    val lens = new Array[Int](n)
    var off = 0
    var i = 0
    while (i < n) {
      val len = lengths(i).toInt
      starts(i) = off
      lens(i) = len
      off += len
      i += 1
    }
    ByteSlices(data, starts, lens)
  }

  def decodeString(cs: ColumnStreams): (Array[String], Array[Boolean]) = {
    val present = readPresent(cs)
    val n = cs.rowCount - cs.nullCount
    val values: Array[String] = cs.codec match {
      case Codecs.StringDirect =>
        val lengths = RleV2Reader.read(new BytesIn(cs.streams(Streams.Length)), signed = false, n)
        val data = cs.streams(Streams.Data)
        val out = new Array[String](n)
        var off = 0
        var i = 0
        while (i < n) {
          val len = lengths(i).toInt
          out(i) = new String(data, off, len, StandardCharsets.UTF_8)
          off += len
          i += 1
        }
        out
      case Codecs.StringDictV2 =>
        val lookup = RleV2Reader.read(new BytesIn(cs.streams(Streams.Data)), signed = false, n)
        val lengths = RleV2Reader.readAll(new BytesIn(cs.streams(Streams.Length)), signed = false)
        val dict = StringDict.deserialize(cs.streams(Streams.DictionaryData), lengths)
        lookup.map(id => dict(id.toInt))
      case Codecs.StringFsst =>
        val s = fsstSlices(cs, n)
        Array.tabulate(n)(i => new String(s.buf, s.starts(i), s.lens(i), StandardCharsets.UTF_8))
      case other => throw new IllegalArgumentException(s"not a string codec: $other")
    }
    (values, present)
  }

  // ---------- TIMESTAMP (frame-of-reference, micros precision) ----------

  /** 2015-01-01T00:00:00Z in epoch micros — the ORC timestamp epoch
    * (/root/reference/src/ApacheOrcDotNet/ColumnTypes/TimestampWriter.cs:13).
    */
  final val OrcEpochMicros: Long = 1420070400L * 1000000L

  /** Input: epoch micros (Spark's internal timestamp representation).
    * DATA = signed seconds relative to the 2015 epoch, SECONDARY =
    * (scaledNanos << 3 | scaleCode) with trailing zeros removed, unsigned.
    *
    * Seconds are FLOOR-divided so the fraction is always in [0, 1s) —
    * Java ORC's effective convention for post-1970 instants
    * (TimestampTreeWriter writes millis/1000 with java.sql.Timestamp
    * nanos already normalized non-negative). The reference instead
    * truncates toward zero and stores abs(remainder)
    * (TimestampWriter.cs:111-131), which loses the fraction's sign for
    * instants within 1s before the 2015 epoch — a quirk we deliberately
    * do NOT replicate (decode would land up to 1s off).
    */
  def encodeTimestamp(epochMicros: Array[Long], present: Array[Boolean],
                      aligned: Boolean = false): ColumnStreams = {
    val nullCount = countNulls(present)
    val seconds = new Array[Long](epochMicros.length)
    val fractions = new Array[Long](epochMicros.length)
    var i = 0
    while (i < epochMicros.length) {
      val rel = epochMicros(i) - OrcEpochMicros
      val secs = Math.floorDiv(rel, 1000000L)
      val remMicros = rel - secs * 1000000L // in [0, 1e6)
      val nanos = remMicros * 1000L
      fractions(i) = removeZeros(nanos)
      seconds(i) = secs
      i += 1
    }
    val dataBuf = new ByteBuf(epochMicros.length)
    RleV2Writer.write(dataBuf, seconds, signed = true, aligned = aligned)
    val secondaryBuf = new ByteBuf(epochMicros.length)
    RleV2Writer.write(secondaryBuf, fractions, signed = false, aligned = aligned)
    ColumnStreams(Codecs.TimestampFor, present.length, nullCount,
      withPresent(Map(Streams.Data -> dataBuf.toArray, Streams.Secondary -> secondaryBuf.toArray),
        present, nullCount))
  }

  /** scaledNanos<<3 | scale, scale = count of trailing decimal zeros
    * removed minus... exactly the reference's RemoveZeros table
    * (TimestampWriter.cs:134-161).
    */
  private def removeZeros(nanos: Long): Long = {
    if (nanos == 0) return (0L << 3) | 7 // 0 with max scale, matches reference (0/1e8==0, 0*1e8==0)
    var scale = 7
    var divisor = 100000000L
    while (scale > 0) {
      if (nanos % divisor == 0) return ((nanos / divisor) << 3) | scale
      scale -= 1
      divisor /= 10
    }
    (nanos << 3) | 0
  }

  def decodeTimestamp(cs: ColumnStreams): (Array[Long], Array[Boolean]) = {
    val present = readPresent(cs)
    val n = cs.rowCount - cs.nullCount
    val seconds = RleV2Reader.read(new BytesIn(cs.streams(Streams.Data)), signed = true, n)
    val fractions = RleV2Reader.read(new BytesIn(cs.streams(Streams.Secondary)), signed = false, n)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val scale = (fractions(i) & 0x7).toInt
      var nanos = fractions(i) >> 3
      if (scale > 0) {
        var s = scale + 1
        while (s > 0) { nanos *= 10; s -= 1 }
      }
      val micros = nanos / 1000L
      // fraction is always non-negative (floor-div encode), so no sign
      // conditional — the reference's secs>=0 test (TimestampReader.cs:58-70)
      // is exactly what broke the epoch-boundary window
      out(i) = OrcEpochMicros + seconds(i) * 1000000L + micros
      i += 1
    }
    (out, present)
  }

  // ---------- DATE (epoch days, signed RLEv2) ----------

  def encodeDate(epochDays: Array[Long], present: Array[Boolean],
                 aligned: Boolean = false): ColumnStreams = {
    val nullCount = countNulls(present)
    val dataBuf = new ByteBuf(epochDays.length)
    RleV2Writer.write(dataBuf, epochDays, signed = true, aligned = aligned)
    ColumnStreams(Codecs.Date, present.length, nullCount,
      withPresent(Map(Streams.Data -> dataBuf.toArray), present, nullCount))
  }

  def decodeDate(cs: ColumnStreams): (Array[Long], Array[Boolean]) = {
    val present = readPresent(cs)
    val values = RleV2Reader.read(new BytesIn(cs.streams(Streams.Data)), signed = true,
      cs.rowCount - cs.nullCount)
    (values, present)
  }

  // ---------- DECIMAL(≤18, s): mantissa varint DATA + scale RLEv2 SECONDARY ----------

  def encodeDecimal18(mantissas: Array[Long], scales: Array[Long], present: Array[Boolean],
                      aligned: Boolean = false): ColumnStreams = {
    val nullCount = countNulls(present)
    val dataBuf = new ByteBuf(mantissas.length * 2)
    var i = 0
    while (i < mantissas.length) { BitOps.writeVarIntSigned(dataBuf, mantissas(i)); i += 1 }
    val secondaryBuf = new ByteBuf(scales.length)
    RleV2Writer.write(secondaryBuf, scales, signed = true, aligned = aligned)
    ColumnStreams(Codecs.Decimal18, present.length, nullCount,
      withPresent(Map(Streams.Data -> dataBuf.toArray, Streams.Secondary -> secondaryBuf.toArray),
        present, nullCount))
  }

  def decodeDecimal18(cs: ColumnStreams): (Array[Long], Array[Long], Array[Boolean]) = {
    val present = readPresent(cs)
    val n = cs.rowCount - cs.nullCount
    val in = new BytesIn(cs.streams(Streams.Data))
    val mantissas = new Array[Long](n)
    var i = 0
    while (i < n) { mantissas(i) = BitOps.readVarIntSigned(in); i += 1 }
    val scales = RleV2Reader.read(new BytesIn(cs.streams(Streams.Secondary)), signed = true, n)
    (mantissas, scales, present)
  }

  // ---------- DECIMAL(19..38, s): BigInteger mantissa varint DATA + scale RLEv2 SECONDARY ----------
  // The reference's >64-bit path (BitManipulation.cs:313-425 WriteVarIntSigned
  // over BigInteger); same stream shape as DECIMAL18, wider mantissas.

  def encodeDecimal128(unscaled: Array[java.math.BigInteger], scales: Array[Long],
                       present: Array[Boolean], aligned: Boolean = false): ColumnStreams = {
    val nullCount = countNulls(present)
    val dataBuf = new ByteBuf(unscaled.length * 4 + 16)
    var i = 0
    while (i < unscaled.length) { BitOps.writeBigVarIntSigned(dataBuf, unscaled(i)); i += 1 }
    val secondaryBuf = new ByteBuf(scales.length + 16)
    RleV2Writer.write(secondaryBuf, scales, signed = true, aligned = aligned)
    ColumnStreams(Codecs.Decimal128, present.length, nullCount,
      withPresent(Map(Streams.Data -> dataBuf.toArray, Streams.Secondary -> secondaryBuf.toArray),
        present, nullCount))
  }

  def decodeDecimal128(cs: ColumnStreams): (Array[java.math.BigInteger], Array[Long], Array[Boolean]) = {
    val present = readPresent(cs)
    val n = cs.rowCount - cs.nullCount
    val in = new BytesIn(cs.streams(Streams.Data))
    val unscaled = new Array[java.math.BigInteger](n)
    var i = 0
    while (i < n) { unscaled(i) = BitOps.readBigVarIntSigned(in); i += 1 }
    val scales = RleV2Reader.read(new BytesIn(cs.streams(Streams.Secondary)), signed = true, n)
    (unscaled, scales, present)
  }
}
