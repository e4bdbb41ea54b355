package graft.spark

import graft.core.{ByteBuf, BytesIn, ZlibBlock}
import graft.columns._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Schema-driven encode/decode between a DataFrame and its per-column
  * encoded chunks.
  *
  * Spark-first layout: the whole reference write path
  * (StripeWriter.AddRows → CompleteStride → CompleteStripe,
  * /root/reference/src/ApacheOrcDotNet/Stripes/StripeWriter.cs:52-191)
  * happens INSIDE one `mapPartitions` closure — rows are pivoted into
  * per-column buffers, flushed as a chunk every `strideRows` rows or
  * `chunkTargetBytes` buffered bytes, whichever first. The only process
  * boundaries are the explicit partitioning shuffle before encode and the
  * manifest commit after — both north-rule additions the single-process
  * reference lacks.
  */
object TableEncoder {

  /** A chunk plays the reference's STRIPE role (64 MiB,
    * WriterConfiguration.cs:19), not its 10k-row stride: zlib framing,
    * dictionaries, and FSST tables amortize across the whole chunk, so
    * small chunks pay their fixed costs many times over. The byte cap is
    * what bounds executor memory; the row cap is a backstop for tables
    * with very narrow rows.
    */
  final val DefaultStrideRows = 1 << 20
  final val DefaultChunkTargetBytes = 32L * 1024 * 1024 // bounded executor memory per buffer

  /** Row-index granularity WITHIN a chunk (the reference's 10k-row
    * stride, WriterConfiguration.cs:29): per-stride min/max let
    * decodePruned skip most of a partially-overlapping chunk without
    * shrinking chunks (small chunks multiply zlib/dict/FSST fixed costs).
    */
  final val DefaultIndexStrideRows = 10000

  // ---------- shredding: Spark types → codec-ready physical columns ----------

  /** Columns are pre-converted with codegen'd expressions (unix_micros,
    * datediff, casts) so the encode closure sees only long / bool /
    * double / float / binary / string — no per-row type dispatch cost.
    */
  def columnSpecs(schema: StructType, stringCodecs: Map[String, String]): Array[ColumnSpec] =
    schema.fields.map { f =>
      val logical = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType => "long"
        case BooleanType                                   => "bool"
        case DoubleType                                    => "double"
        case FloatType                                     => "float"
        case BinaryType                                    => "binary"
        case StringType                                    => "string"
        case TimestampType                                 => "timestamp"
        case TimestampNTZType                              => "timestamp_ntz"
        case DateType                                      => "date"
        case d: DecimalType if d.precision <= 18           => "decimal"
        case d: DecimalType if d.precision <= 38           => "decimal128"
        // float vectors (embeddings): shredded to IEEE-LE bytes, encoded
        // by the binary codec (DATA+LENGTH+PRESENT). The reference
        // descopes List types (StripeWriter.cs:321); this is the
        // LLM-pipeline extension that makes embeddings first-class.
        case ArrayType(FloatType, _)                       => "fvec"
        case dt => throw new IllegalArgumentException(s"unsupported column type for ${f.name}: $dt")
      }
      val narrow = f.dataType match {
        case IntegerType    => "int"
        case ShortType      => "short"
        case ByteType       => "byte"
        case d: DecimalType => s"${d.precision},${d.scale}"
        case _              => ""
      }
      ColumnSpec(f.name, logical, stringCodecs.getOrElse(f.name, Codecs.StringDirect), narrow)
    }

  def shred(df: DataFrame, specs: Array[ColumnSpec]): DataFrame = {
    val cols = specs.map { s =>
      s.logical match {
        case "long"          => col(s.name).cast(LongType).as(s.name)
        case "timestamp"     => unix_micros(col(s.name)).as(s.name)
        case "timestamp_ntz" => unix_micros(col(s.name).cast(TimestampType)).as(s.name)
        case "date"      => datediff(col(s.name), lit(java.sql.Date.valueOf("1970-01-01"))).cast(LongType).as(s.name)
        case "decimal" =>
          // decimal(p≤18,s) → unscaled mantissa long; ×10^s in exact
          // decimal arithmetic (the reference's mantissa+scale model,
          // DecimalWriter.cs:30-31)
          val sc = s.narrow.split(',')(1).toInt
          (col(s.name) * lit(java.math.BigDecimal.TEN.pow(sc))).cast(LongType).as(s.name)
        case "string" =>
          // UTF-8 bytes produced inside the codegen'd projection: the
          // encode closure never materializes a UTF-16 String (the
          // dominant allocation of the old hot path)
          col(s.name).cast(BinaryType).as(s.name)
        case "fvec" =>
          graft.plans.FloatVecToBytes(col(s.name)).as(s.name)
        case _           => col(s.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Inverse of shred: physical decode output → original Spark types. */
  def unshred(df: DataFrame, specs: Array[ColumnSpec]): DataFrame = {
    val cols = specs.map { s =>
      s.logical match {
        case "timestamp"     => timestamp_micros(col(s.name)).as(s.name)
        case "timestamp_ntz" => timestamp_micros(col(s.name)).cast(TimestampNTZType).as(s.name)
        case "date"      => date_add(lit(java.sql.Date.valueOf("1970-01-01")), col(s.name).cast(IntegerType)).as(s.name)
        case "long" if s.narrow.nonEmpty =>
          val dt = s.narrow match { case "int" => IntegerType; case "short" => ShortType; case _ => ByteType }
          col(s.name).cast(dt).as(s.name)
        case "decimal" =>
          val Array(p0, sc) = s.narrow.split(',').map(_.toInt)
          (col(s.name).cast(DecimalType(38, 0)) / lit(java.math.BigDecimal.TEN.pow(sc)))
            .cast(DecimalType(p0, sc)).as(s.name)
        case "string"    => col(s.name).cast(StringType).as(s.name)
        case "fvec"      => graft.plans.BytesToFloatVec(col(s.name)).as(s.name)
        case _           => col(s.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  // ---------- per-column accumulation buffers ----------

  /** Per-stride min/max tracking in a long-valued order space (raw longs,
    * double/float sortable bits, string prefix longs). Call addValue for
    * each non-null value BEFORE addRow for its row; strides with no
    * non-null values record the always-keep sentinel (MinValue, MaxValue).
    */
  private final class StrideTracker(indexStride: Int) {
    private val sMins = new ArrayBuffer[Long]()
    private val sMaxs = new ArrayBuffer[Long]()
    private var mn = Long.MaxValue
    private var mx = Long.MinValue
    private var rowsIn = 0
    def addValue(lo: Long, hi: Long): Unit = {
      if (lo < mn) mn = lo
      if (hi > mx) mx = hi
    }
    def addRow(): Unit = { rowsIn += 1; if (rowsIn == indexStride) close() }
    private def close(): Unit = {
      if (mn == Long.MaxValue && mx == Long.MinValue) {
        sMins += Long.MinValue; sMaxs += Long.MaxValue
      } else { sMins += mn; sMaxs += mx }
      mn = Long.MaxValue; mx = Long.MinValue; rowsIn = 0
    }
    /** Snapshot without mutating (flush reads this, then clear() resets). */
    def snapshot(rows: Int): (Option[Seq[Long]], Option[Seq[Long]]) = {
      if (rows == 0) return (None, None)
      val m = sMins.toVector ++ (if (rowsIn > 0)
        Vector(if (mn == Long.MaxValue) Long.MinValue else mn) else Vector.empty)
      val x = sMaxs.toVector ++ (if (rowsIn > 0)
        Vector(if (mx == Long.MinValue) Long.MaxValue else mx) else Vector.empty)
      (Some(m), Some(x))
    }
    def clear(): Unit = {
      sMins.clear(); sMaxs.clear()
      mn = Long.MaxValue; mx = Long.MinValue; rowsIn = 0
    }
  }

  private sealed trait ColBuf {
    var rows = 0
    var rawBytes = 0L
    val present = new graft.core.BoolBuf(1024) // primitive: no boxing in the hot path
    // opt-in chunk-level bloom filter (string/long-family columns)
    protected var bloomB: graft.core.Bloom.Builder = null
    def enableBloom(): Unit = bloomB = new graft.core.Bloom.Builder
    /** Hash-representation tag for the tagged bloom envelope ('B' bytes /
      * 'L' long) — long-family buffers override.
      */
    protected def bloomTag: Byte = graft.core.Bloom.TagBytes
    def bloomBytes: Option[Array[Byte]] =
      if (bloomB == null || bloomB.count == 0) None
      else Some(graft.core.Bloom.serializeTagged(bloomB.build(), bloomTag))
    def add(row: Row, i: Int): Unit
    def encode(aligned: Boolean): ColumnStreams
    def minMax: (Option[String], Option[String])
    def sumVal: Option[Long] = None
    /** double/float only: NaN count among non-null values (min/max stats
      * exclude NaN — this is what keeps metadata MIN/MAX exact under
      * Spark's NaN-above-everything ordering).
      */
    def nanCount: Option[Int] = None
    /** Per-stride (min, max) arrays in long order space (long-family,
      * double/float sortable bits, string prefix longs).
      */
    def strideStats: (Option[Seq[Long]], Option[Seq[Long]]) = (None, None)
    def clear(): Unit = {
      rows = 0; rawBytes = 0L; present.clear()
      if (bloomB != null) bloomB.clear()
    }

    /** Segmented encode: one independently-decodable ColumnStreams per
      * index stride, plus per-stride null counts. Each subclass encodes a
      * (present-slice, value-range) via encodeSlice; chunk-scoped state
      * (FSST tables) is prepared once in beginSlices.
      */
    def encodeStrided(aligned: Boolean, strideRows: Int): (Array[ColumnStreams], Array[Int]) = {
      val pres = present.toArray
      val nStrides = (rows + strideRows - 1) / strideRows
      val out = new Array[ColumnStreams](nStrides)
      val nulls = new Array[Int](nStrides)
      beginSlices()
      var v = 0
      var s = 0
      while (s < nStrides) {
        val r0 = s * strideRows
        val r1 = math.min(rows, r0 + strideRows)
        val v0 = v
        var nc = 0
        var r = r0
        while (r < r1) { if (pres(r)) v += 1 else nc += 1; r += 1 }
        out(s) = encodeSlice(aligned, java.util.Arrays.copyOfRange(pres, r0, r1), v0, v)
        nulls(s) = nc
        s += 1
      }
      (out, nulls)
    }
    protected def beginSlices(): Unit = {}
    protected def encodeSlice(aligned: Boolean, pres: Array[Boolean],
                              valStart: Int, valEnd: Int): ColumnStreams
  }

  private final class LongColBuf(codecTag: String, indexStride: Int) extends ColBuf {
    override protected def bloomTag: Byte = graft.core.Bloom.TagLong
    private val values = new graft.core.LongBuf(1024)
    private var mn = Long.MaxValue
    private var mx = Long.MinValue
    private var sum = 0L
    private var sumOverflowed = false
    private val strides = new StrideTracker(indexStride)
    def add(row: Row, i: Int): Unit = {
      rows += 1
      if (row.isNullAt(i)) present.add(false)
      else {
        present.add(true)
        val v = row.getLong(i)
        values.add(v)
        if (v < mn) mn = v
        if (v > mx) mx = v
        strides.addValue(v, v)
        if (bloomB != null) bloomB.addLong(v)
        val prev = sum
        sum += v
        // overflow-checked sum like LongWriterStatistics.cs:9-76
        if (((prev ^ sum) & (v ^ sum)) < 0) sumOverflowed = true
        rawBytes += 8
      }
      strides.addRow()
    }
    override def strideStats: (Option[Seq[Long]], Option[Seq[Long]]) = strides.snapshot(rows)
    private var snap: Array[Long] = null
    override protected def beginSlices(): Unit = { snap = values.toArray }
    protected def encodeSlice(aligned: Boolean, pres: Array[Boolean],
                              v0: Int, v1: Int): ColumnStreams = {
      // whole-span slice = the snapshot itself (whole-stream encode() and
      // single-stride chunks): encoders never mutate their input, so skip
      // the second full copy
      val vals = if (v0 == 0 && v1 == snap.length) snap
                 else java.util.Arrays.copyOfRange(snap, v0, v1)
      codecTag match {
        case "timestamp" => ColumnCodec.encodeTimestamp(vals, pres, aligned)
        case "date"      => ColumnCodec.encodeDate(vals, pres, aligned)
        case "byte"      =>
          // reference routes byte columns to ByteRLE (ByteWriter.cs:87-88)
          val bytes = new Array[Byte](vals.length)
          var bi = 0
          while (bi < vals.length) { bytes(bi) = vals(bi).toByte; bi += 1 }
          ColumnCodec.encodeByte(bytes, pres)
        case t if t.startsWith("decimal:") =>
          val sc = t.substring(8).toLong
          ColumnCodec.encodeDecimal18(vals, Array.fill(vals.length)(sc), pres, aligned)
        case _           => ColumnCodec.encodeLong(vals, pres, aligned)
      }
    }
    def encode(aligned: Boolean): ColumnStreams = {
      beginSlices()
      encodeSlice(aligned, present.toArray, 0, values.length)
    }
    def minMax: (Option[String], Option[String]) =
      if (values.length == 0) (None, None) else (Some(mn.toString), Some(mx.toString))
    override def sumVal: Option[Long] =
      if (values.length == 0 || sumOverflowed) None else Some(sum)
    override def clear(): Unit = {
      super.clear(); values.clear(); mn = Long.MaxValue; mx = Long.MinValue
      sum = 0L; sumOverflowed = false
      strides.clear(); snap = null
    }
  }

  /** True/false counts like the reference's BooleanWriterStatistics;
    * min/max rendered 0/1 so boolean predicates can prune, sum = count
    * of trues.
    */
  private final class BoolColBuf(indexStride: Int) extends ColBuf {
    private val values = new graft.core.BoolBuf(1024)
    private var trues = 0L
    // 0/1 stride range: an all-false stride is skippable for `= true`
    // predicates (and vice versa) through the same long-typed row index
    private val strides = new StrideTracker(indexStride)
    def add(row: Row, i: Int): Unit = {
      rows += 1
      if (row.isNullAt(i)) present.add(false)
      else {
        present.add(true)
        val v = row.getBoolean(i)
        if (v) trues += 1
        strides.addValue(if (v) 1L else 0L, if (v) 1L else 0L)
        values.add(v)
        rawBytes += 1
      }
      strides.addRow()
    }
    override def strideStats: (Option[Seq[Long]], Option[Seq[Long]]) = strides.snapshot(rows)
    private var snap: Array[Boolean] = null
    override protected def beginSlices(): Unit = { snap = values.toArray }
    protected def encodeSlice(aligned: Boolean, pres: Array[Boolean],
                              v0: Int, v1: Int): ColumnStreams =
      ColumnCodec.encodeBool(
        if (v0 == 0 && v1 == snap.length) snap
        else java.util.Arrays.copyOfRange(snap, v0, v1), pres)
    def encode(aligned: Boolean): ColumnStreams = {
      beginSlices()
      encodeSlice(aligned, present.toArray, 0, values.length)
    }
    def minMax: (Option[String], Option[String]) =
      if (values.length == 0) (None, None)
      else (Some(if (trues < values.length) "0" else "1"), Some(if (trues > 0) "1" else "0"))
    override def sumVal: Option[Long] = if (values.length == 0) None else Some(trues)
    override def clear(): Unit = {
      super.clear(); values.clear(); trues = 0L; snap = null; strides.clear()
    }
  }

  /** One predicate's stride-skip bounds in the stride index's long space.
    * `nanBlockable`: the originating predicate can match NaN rows (double/
    * float predicate unbounded above, or a NaN literal — Spark orders NaN
    * above +Inf and NaN = NaN is true); stride indexes exclude NaN, so
    * such a prune may only skip strides of chunks proven NaN-free.
    */
  final case class StridePrune(column: String, lo: Long, hi: Long,
                               nanBlockable: Boolean = false)

  /** Order-preserving map double → long (Lucene's sortableLong): stride
    * min/max for double columns ride the same long-typed row-index fields
    * as integer columns, with predicate bounds mapped the same way.
    * NaN excluded by callers. Signed zero is canonicalized (+0.0) first:
    * SQL compares -0.0 == 0.0, but raw sortable bits map them to -1 vs 0,
    * which would let a stride whose max is -0.0 be pruned for lo = 0.0.
    */
  def doubleSortableBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d + 0.0) // -0.0 + 0.0 == +0.0
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }

  /** Float analogue of doubleSortableBits (widened to Long so float
    * columns ride the same long-typed stride index fields).
    */
  def floatSortableBits(f: Float): Long = {
    val b = java.lang.Float.floatToIntBits(f + 0.0f)
    (b ^ ((b >> 31) & 0x7fffffff)).toLong
  }

  /** Order-preserving 8-byte-prefix map for string stride stats: the
    * first 8 UTF-8 bytes as a big-endian unsigned value (zero-padded),
    * sign bit flipped so SIGNED long order equals unsigned byte order.
    * Truncation rounds DOWN ("abcdefghX" ≥ "abcdefgh" in byte order), so
    * the floor is valid for minima and query lower bounds; use
    * stringPrefixCeil for maxima and upper bounds.
    */
  def stringPrefixFloor(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < b.length) (b(i) & 0xffL) else 0L)
      i += 1
    }
    v ^ Long.MinValue
  }

  /** Upper-bound companion: exact for strings ≤ 8 bytes; longer strings
    * round the truncated prefix UP one step (saturating), which stays ≥
    * every string sharing that prefix in the floor image.
    */
  def stringPrefixCeil(b: Array[Byte]): Long = {
    val f = stringPrefixFloor(b)
    if (b.length <= 8 || f == Long.MaxValue) f else f + 1
  }

  /** Min/max like DoubleWriterStatistics.cs — NaN values are excluded
    * from the range (a NaN min/max would poison every pruning compare).
    * Per-stride min/max recorded in sortable-bits space for the sub-chunk
    * row index.
    */
  private final class DoubleColBuf(indexStride: Int) extends ColBuf {
    private val values = new graft.core.DoubleBuf(1024)
    private var mn = Double.PositiveInfinity
    private var mx = Double.NegativeInfinity
    private var sawFinite = false
    private var nans = 0
    private val strides = new StrideTracker(indexStride)
    def add(row: Row, i: Int): Unit = {
      rows += 1
      if (row.isNullAt(i)) present.add(false)
      else {
        present.add(true)
        val v = row.getDouble(i)
        if (!v.isNaN) { // NaN excluded: it would poison every pruning compare
          sawFinite = true
          if (v < mn) mn = v
          if (v > mx) mx = v
          val s = doubleSortableBits(v)
          strides.addValue(s, s)
        } else nans += 1
        values.add(v)
        rawBytes += 8
      }
      strides.addRow()
    }
    override def nanCount: Option[Int] = Some(nans)
    override def strideStats: (Option[Seq[Long]], Option[Seq[Long]]) = strides.snapshot(rows)
    private var snap: Array[Double] = null
    override protected def beginSlices(): Unit = { snap = values.toArray }
    protected def encodeSlice(aligned: Boolean, pres: Array[Boolean],
                              v0: Int, v1: Int): ColumnStreams =
      ColumnCodec.encodeDouble(
        if (v0 == 0 && v1 == snap.length) snap
        else java.util.Arrays.copyOfRange(snap, v0, v1), pres)
    def encode(aligned: Boolean): ColumnStreams = {
      beginSlices()
      encodeSlice(aligned, present.toArray, 0, values.length)
    }
    def minMax: (Option[String], Option[String]) =
      if (!sawFinite) (None, None) else (Some(mn.toString), Some(mx.toString))
    override def clear(): Unit = {
      super.clear(); values.clear()
      mn = Double.PositiveInfinity; mx = Double.NegativeInfinity; sawFinite = false
      nans = 0; strides.clear(); snap = null
    }
  }

  private final class FloatColBuf(indexStride: Int) extends ColBuf {
    private val values = new graft.core.FloatBuf(1024)
    private var mn = Float.PositiveInfinity
    private var mx = Float.NegativeInfinity
    private var sawFinite = false
    private var nans = 0
    private val strides = new StrideTracker(indexStride)
    def add(row: Row, i: Int): Unit = {
      rows += 1
      if (row.isNullAt(i)) present.add(false)
      else {
        present.add(true)
        val v = row.getFloat(i)
        if (!v.isNaN) {
          sawFinite = true
          if (v < mn) mn = v
          if (v > mx) mx = v
          val s = floatSortableBits(v)
          strides.addValue(s, s)
        } else nans += 1
        values.add(v)
        rawBytes += 4
      }
      strides.addRow()
    }
    override def nanCount: Option[Int] = Some(nans)
    override def strideStats: (Option[Seq[Long]], Option[Seq[Long]]) = strides.snapshot(rows)
    private var snap: Array[Float] = null
    override protected def beginSlices(): Unit = { snap = values.toArray }
    protected def encodeSlice(aligned: Boolean, pres: Array[Boolean],
                              v0: Int, v1: Int): ColumnStreams =
      ColumnCodec.encodeFloat(
        if (v0 == 0 && v1 == snap.length) snap
        else java.util.Arrays.copyOfRange(snap, v0, v1), pres)
    def encode(aligned: Boolean): ColumnStreams = {
      beginSlices()
      encodeSlice(aligned, present.toArray, 0, values.length)
    }
    def minMax: (Option[String], Option[String]) =
      if (!sawFinite) (None, None) else (Some(mn.toString), Some(mx.toString))
    override def clear(): Unit = {
      super.clear(); values.clear()
      mn = Float.PositiveInfinity; mx = Float.NegativeInfinity; sawFinite = false
      nans = 0; strides.clear(); snap = null
    }
  }

  /** Length-sum statistic (BinaryWriterStatistics' SumValues) via
    * sum_val; no value range for opaque bytes.
    */
  private final class BinaryColBuf extends ColBuf {
    private val values = new ArrayBuffer[Array[Byte]]()
    def add(row: Row, i: Int): Unit = {
      rows += 1
      if (row.isNullAt(i)) present.add(false)
      else {
        present.add(true)
        val v = row.getAs[Array[Byte]](i)
        values += v
        if (bloomB != null) bloomB.addBytes(v)
        rawBytes += v.length
      }
    }
    protected def encodeSlice(aligned: Boolean, pres: Array[Boolean],
                              v0: Int, v1: Int): ColumnStreams =
      ColumnCodec.encodeBinary(values.slice(v0, v1).toArray, pres, aligned)
    def encode(aligned: Boolean): ColumnStreams = ColumnCodec.encodeBinary(values.toArray, present.toArray, aligned)
    def minMax: (Option[String], Option[String]) = (None, None)
    override def sumVal: Option[Long] = if (values.isEmpty) None else Some(rawBytes)
    override def clear(): Unit = { super.clear(); values.clear() }
  }

  /** Decimal precision 19–38: unscaled BigInteger mantissa, schema-fixed
    * scale (the reference's DecimalWriter >64-bit route). The shredded
    * row still carries the real DecimalType — no long funnel exists for
    * these widths. Min/max stats render as plain decimal strings so
    * pruning can try_cast them to decimal/double.
    */
  /** Clamp a BigInteger mantissa into long space, rounding OUTWARD so a
    * stride range built from clamped values always contains the true
    * range — out-of-long-range mantissas saturate to ±Long.{Min,Max}.
    */
  def clampMantissa(u: java.math.BigInteger): Long =
    if (u.bitLength >= 64) { if (u.signum < 0) Long.MinValue else Long.MaxValue }
    else u.longValueExact

  private final class Decimal128ColBuf(scale: Int, indexStride: Int) extends ColBuf {
    private val values = new ArrayBuffer[java.math.BigInteger]()
    private var mn: java.math.BigInteger = null
    private var mx: java.math.BigInteger = null
    // per-stride mantissa range in clamped-long space (order-preserving
    // up to saturation; query bounds clamp the same way)
    private val strides = new StrideTracker(indexStride)
    def add(row: Row, i: Int): Unit = {
      rows += 1
      if (row.isNullAt(i)) present.add(false)
      else {
        present.add(true)
        val u = row.getDecimal(i).setScale(scale).unscaledValue
        values += u
        if (mn == null || u.compareTo(mn) < 0) mn = u
        if (mx == null || u.compareTo(mx) > 0) mx = u
        val c = clampMantissa(u)
        strides.addValue(c, c)
        rawBytes += 16
      }
      strides.addRow()
    }
    override def strideStats: (Option[Seq[Long]], Option[Seq[Long]]) = strides.snapshot(rows)
    protected def encodeSlice(aligned: Boolean, pres: Array[Boolean],
                              v0: Int, v1: Int): ColumnStreams =
      ColumnCodec.encodeDecimal128(values.slice(v0, v1).toArray,
        Array.fill(v1 - v0)(scale.toLong), pres, aligned)
    def encode(aligned: Boolean): ColumnStreams =
      ColumnCodec.encodeDecimal128(values.toArray, Array.fill(values.length)(scale.toLong),
        present.toArray, aligned)
    def minMax: (Option[String], Option[String]) =
      (Option(mn).map(u => new java.math.BigDecimal(u, scale).toPlainString),
        Option(mx).map(u => new java.math.BigDecimal(u, scale).toPlainString))
    override def clear(): Unit = {
      super.clear(); values.clear(); mn = null; mx = null; strides.clear()
    }
  }

  private final class StringColBuf(codec: String, indexStride: Int) extends ColBuf {
    private val values = new ArrayBuffer[Array[Byte]]() // UTF-8 (shredded via cast to binary)
    private var mn: Array[Byte] = null
    private var mx: Array[Byte] = null
    // per-stride 8-byte-prefix range (stringPrefixFloor/Ceil order space)
    private val strides = new StrideTracker(indexStride)
    // FSST symbol table trained on the partition's first chunk, reused for
    // every later chunk of this partition (amortizes training; the table is
    // still serialized per chunk so decode stays self-contained)
    private var fsstTable: graft.core.Fsst.SymbolTable = null
    def add(row: Row, i: Int): Unit = {
      rows += 1
      if (row.isNullAt(i)) present.add(false)
      else {
        present.add(true)
        val v = row.getAs[Array[Byte]](i)
        values += v
        // unsigned byte order == code-point order (UTF-16 ordinal differs
        // only beyond the BMP); stats are advisory min/max, fine either way
        if (mn == null || java.util.Arrays.compareUnsigned(v, mn) < 0) mn = v
        if (mx == null || java.util.Arrays.compareUnsigned(v, mx) > 0) mx = v
        strides.addValue(stringPrefixFloor(v), stringPrefixCeil(v))
        if (bloomB != null) bloomB.addBytes(v)
        rawBytes += v.length
      }
      strides.addRow()
    }
    override def strideStats: (Option[Seq[Long]], Option[Seq[Long]]) = strides.snapshot(rows)
    override protected def beginSlices(): Unit = {
      if (codec == Codecs.StringFsst && fsstTable == null) {
        val corpus = new graft.core.ByteBuf(1 << 14)
        var i = 0
        while (i < values.length && corpus.length < (1 << 16)) {
          corpus.writeBytes(values(i))
          i += 1
        }
        fsstTable = graft.core.Fsst.train(corpus.toArray)
      }
    }
    protected def encodeSlice(aligned: Boolean, pres: Array[Boolean],
                              v0: Int, v1: Int): ColumnStreams =
      CodecSelector.encodeStrBytes(codec, values.slice(v0, v1).toArray, pres, fsstTable, aligned)
    def encode(aligned: Boolean): ColumnStreams = {
      beginSlices()
      CodecSelector.encodeStrBytes(codec, values.toArray, present.toArray, fsstTable, aligned)
    }
    def minMax: (Option[String], Option[String]) =
      (Option(mn).map(new String(_, java.nio.charset.StandardCharsets.UTF_8)),
        Option(mx).map(new String(_, java.nio.charset.StandardCharsets.UTF_8)))
    // StringWriterStatistics.cs:9-60 sums value lengths; rawBytes is
    // exactly the summed UTF-8 length of the non-null values
    override def sumVal: Option[Long] = if (values.isEmpty) None else Some(rawBytes)
    override def clear(): Unit = {
      super.clear(); values.clear(); mn = null; mx = null; strides.clear()
    }
  }

  private def newBuf(spec: ColumnSpec, indexStride: Int): ColBuf = spec.logical match {
    case "long" if spec.narrow == "byte" => new LongColBuf("byte", indexStride)
    case "long"             => new LongColBuf("long", indexStride)
    case "timestamp" | "timestamp_ntz" => new LongColBuf("timestamp", indexStride)
    case "decimal"          => new LongColBuf("decimal:" + spec.narrow.split(',')(1), indexStride)
    case "decimal128"       => new Decimal128ColBuf(spec.narrow.split(',')(1).toInt, indexStride)
    case "date"             => new LongColBuf("date", indexStride)
    case "bool"             => new BoolColBuf(indexStride)
    case "double"           => new DoubleColBuf(indexStride)
    case "float"            => new FloatColBuf(indexStride)
    case "binary" | "fvec"  => new BinaryColBuf
    case "string"           => new StringColBuf(spec.stringCodec, indexStride)
    case other              => throw new IllegalArgumentException(other)
  }

  private def codecName(spec: ColumnSpec): String = spec.logical match {
    case "long"      => Codecs.LongRleV2
    case "timestamp" | "timestamp_ntz" => Codecs.TimestampFor
    case "decimal"   => Codecs.Decimal18
    case "decimal128" => Codecs.Decimal128
    case "date"      => Codecs.Date
    case "bool"      => Codecs.Bool
    case "double"    => Codecs.DoubleRaw
    case "float"     => Codecs.FloatRaw
    case "binary" | "fvec" => Codecs.Binary
    case "string"    => spec.stringCodec
  }

  // ---------- encode ----------

  /** Shredded DataFrame → Dataset[EncodedChunk]. Pure narrow map (no
    * shuffle): callers choose the partitioning beforehand (EncodeJob does
    * range+salt). Stays in the Dataset API — the partition id travels as
    * a codegen'd `spark_partition_id()` column rather than via RDD
    * mapPartitionsWithIndex.
    */
  def encode(shredded: DataFrame, specs: Array[ColumnSpec],
             strideRows: Int = DefaultStrideRows,
             chunkTargetBytes: Long = DefaultChunkTargetBytes,
             partIdOffset: Int = 0,
             indexStrideRows: Int = DefaultIndexStrideRows,
             aligned: Boolean = false,
             compression: String = graft.core.BlockCompression.Zlib,
             segmented: Boolean = false,
             bloomColumns: Set[String] = Set.empty): Dataset[EncodedChunk] = {
    val spark = shredded.sparkSession
    import spark.implicits._
    val specsB = spark.sparkContext.broadcast(specs)
    val bloomB = spark.sparkContext.broadcast(bloomColumns.map(_.toLowerCase))
    val withPid = shredded.withColumn("__pid", spark_partition_id())
    val pidIdx = specs.length

    withPid.mapPartitions { rows =>
      val sp = specsB.value
      val bufs = sp.map(newBuf(_, indexStrideRows))
      sp.indices.foreach { i =>
        if (bloomB.value.contains(sp(i).name.toLowerCase)) bufs(i).enableBloom()
      }
      var pid = -1
      var chunkId = 0
      var firstRow = 0L
      var rowsInChunk = 0
      var bufferedBytes = 0L

      // segmented layout: every stream blob is a concatenation of
      // per-stride independently-compressed segments; a pruned stride's
      // segments are never decompressed or value-decoded on read
      def flushSegmented(i: Int, mn: Option[String], mx: Option[String],
                         sMins: Option[Seq[Long]], sMaxs: Option[Seq[Long]]): EncodedChunk = {
        val (perStride, nullsPer) = bufs(i).encodeStrided(aligned, indexStrideRows)
        val kinds = perStride.iterator.flatMap(_.streams.keysIterator).toArray.distinct
        val blobs = Map.newBuilder[String, Array[Byte]]
        val segLens = Map.newBuilder[String, Seq[Int]]
        kinds.foreach { k =>
          val bb = new graft.core.ByteBuf(4096)
          val lens = new Array[Int](perStride.length)
          var s = 0
          while (s < perStride.length) {
            val seg = perStride(s).streams.getOrElse(k, Array.emptyByteArray)
            val comp = if (seg.isEmpty) Array.emptyByteArray
                       else graft.core.BlockCompression.compress(compression, seg)
            lens(s) = comp.length
            bb.writeBytes(comp)
            s += 1
          }
          blobs += k -> bb.toArray
          segLens += k -> lens.toSeq
        }
        val streams = blobs.result()
        EncodedChunk(pid, chunkId, firstRow, sp(i).name, perStride(0).codec,
          rowsInChunk, nullsPer.sum, streams, bufs(i).rawBytes,
          streams.valuesIterator.map(_.length.toLong).sum, mn, mx, bufs(i).sumVal,
          indexStrideRows, sMins, sMaxs,
          compression = Some(compression),
          seg_lens = Some(segLens.result()),
          stride_null_counts = Some(nullsPer.toSeq),
          bloom = bufs(i).bloomBytes,
          nan_count = bufs(i).nanCount)
      }

      def flush(): Iterator[EncodedChunk] = {
        if (rowsInChunk == 0) Iterator.empty
        else {
          val out = sp.indices.iterator.map { i =>
            val (mn, mx) = bufs(i).minMax
            val (sMins, sMaxs) = bufs(i).strideStats
            if (segmented) flushSegmented(i, mn, mx, sMins, sMaxs)
            else {
              val cs = bufs(i).encode(aligned)
              val zstreams = cs.streams.map { case (k, v) =>
                k -> graft.core.BlockCompression.compress(compression, v)
              }
              EncodedChunk(pid, chunkId, firstRow, sp(i).name, cs.codec,
                cs.rowCount, cs.nullCount, zstreams,
                bufs(i).rawBytes, zstreams.valuesIterator.map(_.length.toLong).sum, mn, mx,
                bufs(i).sumVal,
                if (sMins.isDefined) indexStrideRows else 0, sMins, sMaxs,
                compression = Some(compression),
                bloom = bufs(i).bloomBytes,
                nan_count = bufs(i).nanCount)
            }
          }.toArray
          firstRow += rowsInChunk
          chunkId += 1
          rowsInChunk = 0
          bufferedBytes = 0L
          bufs.foreach(_.clear())
          out.iterator
        }
      }

      new Iterator[EncodedChunk] {
        private var pending: Iterator[EncodedChunk] = Iterator.empty
        private def fill(): Unit = {
          while (!pending.hasNext && rows.hasNext) {
            val row = rows.next()
            if (pid < 0) pid = row.getInt(pidIdx) + partIdOffset
            var i = 0
            bufferedBytes = 0L
            while (i < sp.length) {
              bufs(i).add(row, i)
              bufferedBytes += bufs(i).rawBytes
              i += 1
            }
            rowsInChunk += 1
            if (rowsInChunk >= strideRows || bufferedBytes >= chunkTargetBytes)
              pending = flush()
          }
          if (!pending.hasNext && rowsInChunk > 0) pending = flush()
        }
        def hasNext: Boolean = { fill(); pending.hasNext }
        def next(): EncodedChunk = { fill(); pending.next() }
      }
    }
  }

  // ---------- decode ----------

  /** Dataset[EncodedChunk] (or its DataFrame read back from parquet) →
    * the original table. Chunks of the same (part_id, chunk_id) are
    * co-located with a hash repartition + in-partition sort (stays in
    * Tungsten shuffle format — no object serialization of the blobs);
    * adjacent rows of one key then form one chunk group, decoded
    * column-at-a-time into primitive arrays and emitted as UnsafeRows via
    * UnsafeRowWriter — no per-value boxing and no Row→InternalRow encoder
    * pass (the old Row.fromSeq path was 4.5× slower than encode at 32
    * cores).
    */
  def decode(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
             stridePrune: Option[StridePrune] = None): DataFrame = {
    val spark = chunks.sparkSession
    val specsB = spark.sparkContext.broadcast(specs)
    val schema = physicalSchema(specs)
    val rdd = chunks.repartition(col("part_id"), col("chunk_id"))
      .sortWithinPartitions("part_id", "chunk_id").rdd.mapPartitions { it =>
      val sp = specsB.value
      val writer = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(sp.length)
      new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
        private var pending: Iterator[org.apache.spark.sql.catalyst.InternalRow] = Iterator.empty
        private var lookahead: EncodedChunk = null
        // a group boundary ends at the next (part_id, chunk_id) OR at a
        // repeated column, NOT at a fixed column count: batches older
        // than an ALTER ADD COLUMN carry fewer columns (the decode
        // null-fills them), and raw TableEncoder.encode output can carry
        // DUPLICATE keys across input partitions (EncodeJob offsets
        // part_ids; bare encode does not) — a repeated column starts the
        // next duplicate. A key that reappears with a DIFFERENT column
        // set is a split group — fail loudly, never emit wrongly
        // null-filled halves.
        private val seenCols = new java.util.HashMap[Long, Set[String]]()
        private def fill(): Unit = {
          while (!pending.hasNext && (lookahead != null || it.hasNext)) {
            val group = scala.collection.mutable.Map[String, EncodedChunk]()
            val first = if (lookahead != null) { val f = lookahead; lookahead = null; f }
                        else it.next()
            group(first.column) = first
            var done = false
            while (!done && it.hasNext) {
              val c = it.next()
              if (c.part_id == first.part_id && c.chunk_id == first.chunk_id &&
                  !group.contains(c.column)) group(c.column) = c
              else { lookahead = c; done = true }
            }
            val key = (first.part_id.toLong << 32) | (first.chunk_id.toLong & 0xffffffffL)
            val cols = group.keySet.toSet
            val prev = seenCols.put(key, cols)
            require(prev == null || prev == cols,
              s"split chunk group (${first.part_id},${first.chunk_id}): " +
                s"saw columns {${cols.mkString(",")}} after {${prev.mkString(",")}}")
            require(group.size <= sp.length,
              s"chunk (${first.part_id},${first.chunk_id}) has ${group.size} column rows, " +
                s"expected at most ${sp.length}")
            pending = decodeChunkInternalRows(group.toMap, sp, writer, stridePrune.toSeq)
          }
        }
        def hasNext: Boolean = { fill(); pending.hasNext }
        def next(): org.apache.spark.sql.catalyst.InternalRow = { fill(); pending.next() }
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.internalCreateDataFrame(spark, rdd, schema)
  }

  /** Column-subset decode — the point of a columnar layout: only the
    * requested columns' streams are decompressed and value-decoded; the
    * rest of each chunk group is filtered out before any blob is touched
    * (the filter is an untyped metadata predicate, same trick as
    * decodePruned). Output schema follows `columns` order. Note the
    * chunk parquet itself still stores all columns in one file — at
    * 100 TB a reader wanting scan-level IO savings too would partition
    * the chunk table by `column`; this API removes the decode CPU and
    * (on the shuffle path) the network bytes for unrequested columns.
    */
  def decodeColumns(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
                    columns: Seq[String], ignoreMissing: Boolean = false,
                    missingTypes: Map[String, DataType] = Map.empty): DataFrame = {
    import chunks.sparkSession.implicits._
    if (!ignoreMissing) {
      val subset = subsetSpecs(specs, columns)
      // filter by the RESOLVED names (subsetSpecs rebinds case-insensitively)
      val filtered = chunks.filter(col("column").isInCollection(subset.map(_.name))).as[EncodedChunk]
      decode(filtered, subset)
    } else {
      // schema-evolution read (the reference reader's ignoreMissingColumns
      // tolerance, OrcReader.cs:49-64): requested columns absent from the
      // written specs come back as null columns in request order instead
      // of failing the whole read. The null columns take the type the
      // caller's evolved schema declares in `missingTypes` (StringType
      // when unspecified) so the result unions cleanly with newer chunks.
      val found = columns.filter(n => specs.exists(_.name.equalsIgnoreCase(n)))
      // all requested columns missing: the tolerant contract still owes
      // one all-null row per written row — decode the CHEAPEST written
      // column to drive the row count (never a multi-GB text/binary blob
      // just for its cardinality), then project it away
      val driveSpecs =
        if (found.nonEmpty) subsetSpecs(specs, found)
        else {
          val cost = Map("bool" -> 0, "date" -> 1, "long" -> 2, "timestamp" -> 2,
            "timestamp_ntz" -> 2, "decimal" -> 2, "float" -> 3, "double" -> 4,
            "decimal128" -> 5, "string" -> 6, "binary" -> 7)
          Array(specs.minBy(sp => cost.getOrElse(sp.logical, 9)))
        }
      val filtered = chunks.filter(col("column").isInCollection(driveSpecs.map(_.name))).as[EncodedChunk]
      val decoded = decode(filtered, driveSpecs)
      def missingType(n: String): DataType =
        missingTypes.collectFirst { case (k, t) if k.equalsIgnoreCase(n) => t }
          .getOrElse(StringType)
      // alias found columns to the CALLER'S requested casing too — mixed
      // canonical/requested naming in one output breaks a downstream
      // unionByName against the evolved schema
      val out = columns.map { n =>
        driveSpecs.find(_.name.equalsIgnoreCase(n)) match {
          case Some(s) if found.exists(_.equalsIgnoreCase(n)) => col(s.name).as(n)
          case _ => lit(null).cast(missingType(n)).as(n)
        }
      }
      decoded.select(out.toIndexedSeq: _*)
    }
  }

  /** Case-insensitive name rebinding, like the reference reader's
    * property match (OrcReader.cs:49-64); the spec's canonical name wins
    * in the output schema. Unknown names throw (typo protection) — use
    * decodeColumns(ignoreMissing = true) for schema-evolution reads.
    */
  def subsetSpecs(specs: Array[ColumnSpec], columns: Seq[String]): Array[ColumnSpec] =
    columns.map(n => specs.find(_.name.equalsIgnoreCase(n)).getOrElse(
      throw new IllegalArgumentException(
        s"unknown column $n; have ${specs.map(_.name).mkString(",")}"))).toArray

  /** Stats-pruned decode: skip whole chunks whose [min,max] on `column`
    * cannot overlap [lo,hi] — the point of the reference's per-stride
    * statistics (SURVEY §2.5) which its own reader never exploits. At
    * 100 TB this is the difference between scanning everything and
    * touching only matching chunks; callers still apply the exact filter
    * afterwards.
    */
  def decodePruned(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
                   column: String, lo: Long, hi: Long): DataFrame = {
    // stride stats are only in raw-long order space for the long family —
    // string/double/float columns record prefix/sortable-bits spaces, so
    // long bounds must not be compared against them (use the typed
    // decodePruned* entry points for those)
    val longFamily = Set("long", "timestamp", "timestamp_ntz", "date", "decimal", "bool")
    val stridePrune = specs.find(s => s.name.equalsIgnoreCase(column) &&
        longFamily.contains(s.logical))
      .map(s => StridePrune(s.name, lo, hi))
    decodePrunedTyped(chunks, specs, column, lit(lo), lit(hi), LongType, stridePrune)
  }

  /** Range-prune on a double/float column's stats. Both carry a
    * per-stride row index in sortable-bits space, so sub-chunk skipping
    * applies just like integer columns; float query bounds are widened
    * to the enclosing representable floats so double-typed predicates
    * never drop a matching stride.
    */
  def decodePrunedDouble(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
                         column: String, lo: Double, hi: Double): DataFrame = {
    // widen a lo == ±0.0 bound to the uncanonicalized -0.0 sortable value
    // (-1) so chunks written before signed-zero canonicalization (whose
    // stride stats may carry -1 for -0.0) are still kept, never dropped
    // NaN can match [lo, hi] only when hi itself is NaN (x <= NaN is true
    // for NaN and for nothing finite) — then stats/stride pruning must
    // keep chunks that may hold NaN rows (stats exclude NaN)
    val nanMatch = hi.isNaN
    val stridePrune = specs.find(s => s.name.equalsIgnoreCase(column)).flatMap { s =>
      s.logical match {
        case "double" =>
          val loBits = if (lo == 0.0) -1L else doubleSortableBits(lo)
          Some(StridePrune(s.name, loBits, doubleSortableBits(hi), nanBlockable = nanMatch))
        case "float" =>
          var lf = lo.toFloat // round bounds OUTWARD to floats
          if (lf.toDouble > lo) lf = Math.nextDown(lf)
          var hf = hi.toFloat
          if (hf.toDouble < hi) hf = Math.nextUp(hf)
          val loBits = if (lf == 0.0f) -1L else floatSortableBits(lf)
          Some(StridePrune(s.name, loBits, floatSortableBits(hf), nanBlockable = nanMatch))
        case _ => None
      }
    }
    decodePrunedTyped(chunks, specs, column, lit(lo), lit(hi), DoubleType, stridePrune,
      nanKeep = nanMatch)
  }

  /** Range-prune on a string column's stats: chunk-level lexicographic
    * bounds plus the 8-byte-prefix stride index for sub-chunk skipping
    * (bounds mapped floor/ceil so prefix truncation never drops a match).
    */
  def decodePrunedString(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
                         column: String, lo: String, hi: String): DataFrame = {
    val stridePrune = specs.find(s => s.name.equalsIgnoreCase(column) && s.logical == "string")
      .map { s =>
        val loB = lo.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val hiB = hi.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        StridePrune(s.name, stringPrefixFloor(loB), stringPrefixCeil(hiB))
      }
    decodePrunedTyped(chunks, specs, column, lit(lo), lit(hi), StringType, stridePrune)
  }

  /** Range-prune on a wide-decimal (precision 19-38) column's stats,
    * whose min/max are recorded as plain decimal strings. Narrow
    * decimals (≤18) store mantissa-space long stats — scale the bounds
    * and use `decodePruned` for those.
    */
  def decodePrunedDecimal(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
                          column: String,
                          lo: java.math.BigDecimal, hi: java.math.BigDecimal): DataFrame = {
    val spec = subsetSpecs(specs, Seq(column)).head
    require(spec.logical == "decimal128",
      s"$column is ${spec.logical}; decimal-string stats exist only for decimal128 columns")
    val Array(p, s) = spec.narrow.split(',').map(_.toInt)
    // stride bounds in clamped-mantissa space, rounded OUTWARD (floor/
    // ceiling scaling + saturating clamp) so truncation can only keep
    // extra strides, never drop a matching one
    val loU = clampMantissa(lo.setScale(s, java.math.RoundingMode.FLOOR).unscaledValue)
    val hiU = clampMantissa(hi.setScale(s, java.math.RoundingMode.CEILING).unscaledValue)
    decodePrunedTyped(chunks, specs, spec.name, lit(lo), lit(hi), DecimalType(p, s),
      stridePrune = Some(StridePrune(spec.name, loU, hiU)))
  }

  /** Point-lookup prune on a string column: a chunk is decoded only when
    * the value lies within its [min,max] AND its bloom filter (when
    * written — encode's bloomColumns) does not reject it; the prefix
    * stride index then skips sub-chunk. On an unsorted high-cardinality
    * column the range test keeps everything and the bloom carries the
    * whole prune — the content-addressed-read shape (url/text equality)
    * min/max stats can't serve.
    */
  def decodePrunedEqualsString(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
                               column: String, value: String): DataFrame = {
    val spec = subsetSpecs(specs, Seq(column)).head
    require(spec.logical == "string", s"$column is ${spec.logical}, not string")
    val bytes = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val (h1, h2) = graft.core.Bloom.hashPair(bytes)
    decodePrunedEqualsImpl(chunks, specs, spec.name, lit(value), StringType, h1, h2,
      Some(StridePrune(spec.name, stringPrefixFloor(bytes), stringPrefixCeil(bytes))))
  }

  /** Point-lookup prune on a BINARY column — content-addressed lookup of
    * opaque bytes (html blobs, media keys). Binary columns carry no
    * min/max (length-sum only), so the bloom filter is the ONLY prune:
    * without one written, every chunk is conservatively kept.
    */
  def decodePrunedEqualsBinary(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
                               column: String, value: Array[Byte]): DataFrame = {
    val spec = subsetSpecs(specs, Seq(column)).head
    require(spec.logical == "binary", s"$column is ${spec.logical}, not binary")
    val (h1, h2) = graft.core.Bloom.hashPair(value)
    decodePrunedEqualsImpl(chunks, specs, spec.name, lit(value), BinaryType, h1, h2, None)
  }

  /** Long-family point-lookup prune (bloom over the shredded long value —
    * for decimals pass the scaled mantissa, for dates epoch days).
    */
  def decodePrunedEqualsLong(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
                             column: String, value: Long): DataFrame = {
    val spec = subsetSpecs(specs, Seq(column)).head
    val longFamily = Set("long", "timestamp", "timestamp_ntz", "date", "decimal")
    require(longFamily.contains(spec.logical), s"$column is ${spec.logical}, not long-family")
    val (h1, h2) = graft.core.Bloom.hashPairLong(value)
    decodePrunedEqualsImpl(chunks, specs, spec.name, lit(value), LongType, h1, h2,
      Some(StridePrune(spec.name, value, value)))
  }

  private def decodePrunedEqualsImpl(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
                                     colName: String, v: Column, statType: DataType,
                                     h1: Long, h2: Long,
                                     stridePrune: Option[StridePrune]): DataFrame = {
    import chunks.sparkSession.implicits._
    // metadata-only keep pass like decodePrunedTyped: range test on the
    // stats strings plus a bloom rejection test over the (small) bloom
    // blobs; absent/null stats or bloom keep the chunk (conservative)
    val bloomRejects = udf { (b: Array[Byte]) =>
      b != null && !graft.core.Bloom.deserializeTagged(b)._2.mightContain(h1, h2)
    }
    val overlap = coalesce(
      !(col("max_val").try_cast(statType.sql) < v.cast(statType) ||
        col("min_val").try_cast(statType.sql) > v.cast(statType)),
      lit(true)) && !bloomRejects(col("bloom"))
    val keep = chunks.toDF()
      .filter(col("column") === colName && overlap)
      .select("part_id", "chunk_id")
    val pruned = chunks
      .join(org.apache.spark.sql.functions.broadcast(keep), Seq("part_id", "chunk_id"), "left_semi")
      .as[EncodedChunk]
    decode(pruned, specs, stridePrune)
  }

  private def decodePrunedTyped(chunks: Dataset[EncodedChunk], specs: Array[ColumnSpec],
                                column: String, lo: Column, hi: Column,
                                statType: DataType,
                                stridePrune: Option[StridePrune] = None,
                                nanKeep: Boolean = false): DataFrame = {
    import chunks.sparkSession.implicits._
    // column-based (untyped) predicate: a typed lambda filter would
    // deserialize whole EncodedChunk objects — including the stream
    // blobs — just to read four metadata fields; this way pruning +
    // pushdown reach the scan and the keep-set pass never touches blobs.
    // coalesce(..., true): null stats — absent, or uncastable to the
    // stat type (e.g. pruning a string column's stats as long, where
    // try_cast yields null instead of an ANSI cast error) — must KEEP
    // the chunk (conservative full scan), never silently drop it.
    // nanKeep: the predicate can match NaN rows, which min/max exclude —
    // keep any chunk whose nan_count may be > 0 (null = unknown = keep).
    val rangeKeep = coalesce(
      !(col("max_val").try_cast(statType.sql) < lo.cast(statType) ||
        col("min_val").try_cast(statType.sql) > hi.cast(statType)),
      lit(true))
    val overlap =
      if (nanKeep) rangeKeep || coalesce(col("nan_count") > lit(0), lit(true))
      else rangeKeep
    val keep = chunks.toDF()
      .filter(col("column") === column && overlap)
      .select("part_id", "chunk_id")
    val pruned = chunks
      .join(org.apache.spark.sql.functions.broadcast(keep), Seq("part_id", "chunk_id"), "left_semi")
      .as[EncodedChunk]
    decode(pruned, specs, stridePrune)
  }

  /** Logical (Spark) schema the specs were derived from — the inverse of
    * columnSpecs; every field nullable, like the decode output.
    */
  def logicalSchema(specs: Array[ColumnSpec]): StructType =
    StructType(specs.map { s =>
      def decimal = { val Array(p, sc) = s.narrow.split(',').map(_.toInt); DecimalType(p, sc) }
      val dt = s.logical match {
        case "long" => s.narrow match {
          case "int" => IntegerType; case "short" => ShortType; case "byte" => ByteType
          case _     => LongType
        }
        case "decimal" | "decimal128" => decimal
        case "timestamp"              => TimestampType
        case "timestamp_ntz"          => TimestampNTZType
        case "date"                   => DateType
        case "bool"                   => BooleanType
        case "double"                 => DoubleType
        case "float"                  => FloatType
        case "string"                 => StringType
        case "binary"                 => BinaryType
        case "fvec"                   => ArrayType(FloatType, containsNull = false)
      }
      StructField(s.name, dt, nullable = true)
    })

  /** Physical (shredded) schema for decode output. */
  def physicalSchema(specs: Array[ColumnSpec]): StructType =
    StructType(specs.map { s =>
      val dt = s.logical match {
        case "long" | "timestamp" | "timestamp_ntz" | "date" | "decimal" => LongType
        case "decimal128" =>
          val Array(p, sc) = s.narrow.split(',').map(_.toInt)
          DecimalType(p, sc)
        case "bool"                        => BooleanType
        case "double"                      => DoubleType
        case "float"                       => FloatType
        case "binary" | "string" | "fvec"  => BinaryType
      }
      StructField(s.name, dt, nullable = true)
    })

  /** One decoded column in primitive form: values packed (non-null only,
    * writer order) + the row-level present bitmap. No boxing anywhere.
    */
  private sealed trait Decoded { def present: Array[Boolean] }
  private final case class LongsD(values: Array[Long], present: Array[Boolean]) extends Decoded
  private final case class BoolsD(values: Array[Boolean], present: Array[Boolean]) extends Decoded
  private final case class DoublesD(values: Array[Double], present: Array[Boolean]) extends Decoded
  private final case class FloatsD(values: Array[Float], present: Array[Boolean]) extends Decoded
  private final case class BinsD(values: Array[Array[Byte]], present: Array[Boolean]) extends Decoded
  private final case class SlicesD(slices: ColumnCodec.ByteSlices, present: Array[Boolean]) extends Decoded
  private final case class DecsD(values: Array[org.apache.spark.sql.types.Decimal],
                                 precision: Int, scale: Int,
                                 present: Array[Boolean]) extends Decoded

  private def decodeColumnPrim(cs: ColumnStreams, spec: ColumnSpec): Decoded = spec.logical match {
    case "long" if cs.codec == Codecs.ByteRleC =>
      val (v, p) = ColumnCodec.decodeByte(cs)
      val longs = new Array[Long](v.length)
      var i = 0
      while (i < v.length) { longs(i) = v(i).toLong; i += 1 }
      LongsD(longs, p)
    case "long"      => val (v, p) = ColumnCodec.decodeLong(cs); LongsD(v, p)
    case "decimal"   => val (v, _, p) = ColumnCodec.decodeDecimal18(cs); LongsD(v, p)
    case "decimal128" =>
      val (unscaled, scales, p) = ColumnCodec.decodeDecimal128(cs)
      val Array(prec, sc) = spec.narrow.split(',').map(_.toInt)
      val decs = new Array[org.apache.spark.sql.types.Decimal](unscaled.length)
      var i = 0
      while (i < unscaled.length) {
        decs(i) = org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(unscaled(i), scales(i).toInt))
        i += 1
      }
      DecsD(decs, prec, sc, p)
    case "timestamp" | "timestamp_ntz" => val (v, p) = ColumnCodec.decodeTimestamp(cs); LongsD(v, p)
    case "date"      => val (v, p) = ColumnCodec.decodeDate(cs); LongsD(v, p)
    case "bool"      => val (v, p) = ColumnCodec.decodeBool(cs); BoolsD(v, p)
    case "double"    => val (v, p) = ColumnCodec.decodeDouble(cs); DoublesD(v, p)
    case "float"     => val (v, p) = ColumnCodec.decodeFloat(cs); FloatsD(v, p)
    case "binary" | "fvec" => val (v, p) = ColumnCodec.decodeBinarySlices(cs); SlicesD(v, p)
    case "string"    => val (v, p) = ColumnCodec.decodeStrSlices(cs); SlicesD(v, p)
  }

  /** Shared row emission: write row `r` of the decoded columns into the
    * reused UnsafeRowWriter, advancing each column's value cursor.
    */
  private def writeRow(writer: org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter,
                       cols: Array[Decoded], cursors: Array[Int], r: Int): Unit = {
    writer.reset()
    writer.zeroOutNullBytes()
    var c = 0
    while (c < cols.length) {
      cols(c) match {
        case d: LongsD =>
          if (d.present(r)) { writer.write(c, d.values(cursors(c))); cursors(c) += 1 }
          else writer.setNullAt(c)
        case d: BinsD =>
          if (d.present(r)) { writer.write(c, d.values(cursors(c))); cursors(c) += 1 }
          else writer.setNullAt(c)
        case d: SlicesD =>
          // slice straight from the decoded backing buffer — no
          // per-value Array[Byte] between decode and the UnsafeRow
          if (d.present(r)) {
            val i = cursors(c)
            writer.write(c, d.slices.buf, d.slices.starts(i), d.slices.lens(i))
            cursors(c) += 1
          } else writer.setNullAt(c)
        case d: DoublesD =>
          if (d.present(r)) { writer.write(c, d.values(cursors(c))); cursors(c) += 1 }
          else writer.setNullAt(c)
        case d: FloatsD =>
          if (d.present(r)) { writer.write(c, d.values(cursors(c))); cursors(c) += 1 }
          else writer.setNullAt(c)
        case d: BoolsD =>
          if (d.present(r)) { writer.write(c, d.values(cursors(c))); cursors(c) += 1 }
          else writer.setNullAt(c)
        case d: DecsD =>
          // p>18 decimals are variable-length in UnsafeRow: the writer
          // must see the null too (it reserves the 16-byte slot and
          // zeroes the offset), so never plain setNullAt here
          if (d.present(r)) { writer.write(c, d.values(cursors(c)), d.precision, d.scale); cursors(c) += 1 }
          else writer.write(c, null.asInstanceOf[org.apache.spark.sql.types.Decimal], d.precision, d.scale)
      }
      c += 1
    }
  }

  /** strideKeep bitmap intersected across EVERY pruning predicate's
    * stride stats (a two-column conjunction skips the union of what each
    * predicate alone would skip), paired with the stride row width; null
    * when no sub-chunk pruning applies. Predicates whose stride arrays
    * disagree in shape with the first contributor are ignored
    * (conservative keep). A nanBlockable prune (its predicate can match
    * NaN rows) only acts on chunks PROVEN NaN-free — stride indexes
    * exclude NaN, so on a chunk with nan_count > 0 (or unknown) its
    * bounds could skip strides whose only matching rows are NaN.
    */
  private def strideKeepFor(byCol: Map[String, EncodedChunk],
                            stridePrunes: Seq[StridePrune]): (Array[Boolean], Int) = {
    var keep: Array[Boolean] = null
    var strideN = 0
    stridePrunes.foreach { sp =>
      byCol.get(sp.column).foreach { c =>
        val nanBlocked = sp.nanBlockable && c.nan_count.forall(_ > 0)
        if (!nanBlocked && c.stride_rows > 0 &&
            c.stride_mins.isDefined && c.stride_maxs.isDefined) {
          val mins = c.stride_mins.get.toArray
          val maxs = c.stride_maxs.get.toArray
          val lo = sp.lo
          val hi = sp.hi
          if (keep == null) {
            keep = Array.tabulate(mins.length)(s => !(maxs(s) < lo || mins(s) > hi))
            strideN = c.stride_rows
          } else if (mins.length == keep.length && c.stride_rows == strideN) {
            var s = 0
            while (s < keep.length) {
              if (keep(s) && (maxs(s) < lo || mins(s) > hi)) keep(s) = false
              s += 1
            }
          }
        }
      }
    }
    if (keep == null) null else (keep, strideN)
  }

  /** Synthetic all-null chunk for a column ABSENT from a chunk group —
    * the read-side half of `ALTER TABLE ADD COLUMN`: batches written
    * before the column existed serve typed nulls for it. Shape-matched
    * to the group's template chunk (segmented iff it is, same stride
    * grid) so both decode paths treat it like any written column; the
    * payload is a PRESENT stream of all-false bits plus empty value
    * streams, uncompressed. The reference reader's ignoreMissingColumns
    * tolerance (OrcReader.cs:49-64) applied per batch.
    */
  private def allNullChunk(template: EncodedChunk, spec: ColumnSpec): EncodedChunk = {
    val rows = template.row_count
    def presentBytes(n: Int): Array[Byte] = {
      val buf = new graft.core.ByteBuf(64)
      graft.core.BitCodec.write(buf, new Array[Boolean](n))
      buf.toArray
    }
    // direct string codec: a dict codec would make the decoder look for
    // dictionary streams this chunk doesn't carry
    val codec = spec.logical match {
      case "string" => Codecs.StringDirect
      case _        => codecName(spec)
    }
    val emptyKinds = Seq(Streams.Data, Streams.Length, Streams.Secondary)
    val segmented = template.seg_lens.isDefined &&
      template.stride_null_counts.isDefined && template.stride_rows > 0
    if (segmented) {
      val strideN = template.stride_rows
      val nStrides = template.stride_null_counts.get.size
      val segs = Array.tabulate(nStrides)(s =>
        presentBytes(math.min(strideN, rows - s * strideN)))
      EncodedChunk(template.part_id, template.chunk_id, template.first_row, spec.name,
        codec, rows, rows,
        streams = (emptyKinds.map(_ -> Array.emptyByteArray) :+
          (Streams.Present -> segs.flatten)).toMap,
        raw_bytes = 0L, encoded_bytes = 0L, min_val = None, max_val = None, sum_val = None,
        stride_rows = strideN,
        compression = Some(graft.core.BlockCompression.None_),
        seg_lens = Some((emptyKinds.map(_ -> Seq.fill(nStrides)(0)) :+
          (Streams.Present -> segs.map(_.length).toSeq)).toMap),
        stride_null_counts = Some(Seq.tabulate(nStrides)(s =>
          math.min(strideN, rows - s * strideN))))
    } else
      EncodedChunk(template.part_id, template.chunk_id, template.first_row, spec.name,
        codec, rows, rows,
        streams = (emptyKinds.map(_ -> Array.emptyByteArray) :+
          (Streams.Present -> presentBytes(rows))).toMap,
        raw_bytes = 0L, encoded_bytes = 0L, min_val = None, max_val = None, sum_val = None,
        compression = Some(graft.core.BlockCompression.None_))
  }

  /** Decode one chunk's columns and emit UnsafeRows through a reused
    * writer. The returned rows alias the writer's buffer — consume each
    * before calling next() (the contract of every columnar scan in Spark;
    * buffering operators copy). Segmented chunks route to the per-stride
    * decoder, which skips pruned strides' decompression and value decode
    * entirely.
    */
  private[spark] def decodeChunkInternalRows(
      byCol: Map[String, EncodedChunk], specs: Array[ColumnSpec],
      writer: org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter,
      stridePrunes: Seq[StridePrune] = Seq.empty)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val nCols = specs.length
    // schema evolution: columns the group lacks (batches older than an
    // ALTER ADD COLUMN) decode as typed nulls via a synthetic chunk
    val byColFull =
      if (specs.forall(s => byCol.contains(s.name))) byCol
      else {
        require(byCol.nonEmpty, "empty chunk group")
        val template = byCol.valuesIterator.next()
        byCol ++ specs.iterator.filterNot(s => byCol.contains(s.name))
          .map(s => s.name -> allNullChunk(template, s))
      }
    if (specs.forall { s =>
      val c = byColFull(s.name)
      c.seg_lens.isDefined && c.stride_null_counts.isDefined && c.stride_rows > 0
    }) return decodeSegmentedInternalRows(byColFull, specs, writer, stridePrunes)

    val cols = new Array[Decoded](nCols)
    var rowCount = -1
    var i = 0
    while (i < nCols) {
      val chunk = byColFull(specs(i).name)
      if (rowCount < 0) rowCount = chunk.row_count
      require(chunk.row_count == rowCount, s"chunk row_count mismatch on ${specs(i).name}")
      val kind = chunk.compression.getOrElse(graft.core.BlockCompression.Zlib)
      val streams = chunk.streams.map { case (k, v) =>
        k -> graft.core.BlockCompression.decompress(kind, v)
      }
      cols(i) = decodeColumnPrim(
        ColumnStreams(chunk.codec, chunk.row_count, chunk.null_count, streams), specs(i))
      i += 1
    }
    // sub-chunk skipping: strides of the pruning column whose [min,max]
    // cannot overlap [lo,hi] are skipped at materialization (rows never
    // built, nothing emitted downstream) — the reference's RowIndex
    // purpose, which its own reader never exploits. (Whole-stream chunks
    // still pay the decode; segmented chunks skip that too.)
    val sk = strideKeepFor(byColFull, stridePrunes)
    val strideKeep = if (sk == null) null else sk._1
    val strideN = if (sk == null) 0 else sk._2
    val cursors = new Array[Int](nCols) // next value index per column (non-null stream)
    val total = rowCount
    new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
      private var r = 0
      // advance past rows of pruned strides, keeping value cursors exact
      private def align(): Unit = if (strideKeep != null) {
        while (r < total && !strideKeep(r / strideN)) {
          var c = 0
          while (c < nCols) { if (cols(c).present(r)) cursors(c) += 1; c += 1 }
          r += 1
        }
      }
      def hasNext: Boolean = { align(); r < total }
      def next(): org.apache.spark.sql.catalyst.InternalRow = {
        align()
        writeRow(writer, cols, cursors, r)
        r += 1
        writer.getRow
      }
    }
  }

  /** Per-stride decode of a segmented chunk group: only KEPT strides'
    * stream segments are ever decompressed and value-decoded — for a
    * selective predicate the skipped strides cost nothing but their
    * (already-loaded) blob bytes. The reference's stream position
    * annotations (ColumnWriterStatistics.cs:10-33,
    * OrcCompressedBuffer.cs:66-72) realized as independently-compressed
    * stride segments.
    */
  private def decodeSegmentedInternalRows(
      byCol: Map[String, EncodedChunk], specs: Array[ColumnSpec],
      writer: org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter,
      stridePrunes: Seq[StridePrune])
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val nCols = specs.length
    val chunksArr = specs.map(s => byCol(s.name))
    val rowCount = chunksArr(0).row_count
    chunksArr.foreach(c =>
      require(c.row_count == rowCount, s"chunk row_count mismatch on ${c.column}"))
    val strideN = chunksArr(0).stride_rows
    val nStrides = chunksArr(0).stride_null_counts.get.size
    // per column, per stream kind: segment offsets within the blob
    val colSegs: Array[Array[(String, Array[Int], Array[Int])]] = chunksArr.map { c =>
      c.seg_lens.get.iterator.map { case (k, lensSeq) =>
        val lens = lensSeq.toArray
        val offs = new Array[Int](lens.length)
        var acc = 0
        var i = 0
        while (i < lens.length) { offs(i) = acc; acc += lens(i); i += 1 }
        (k, offs, lens)
      }.toArray
    }
    val strideKeep = {
      val sk = strideKeepFor(byCol, stridePrunes)
      if (sk == null) null else sk._1
    }

    def decodeStrideCol(ci: Int, s: Int): Decoded = {
      val c = chunksArr(ci)
      val kindC = c.compression.getOrElse(graft.core.BlockCompression.Zlib)
      val rowsS = math.min(strideN, rowCount - s * strideN)
      val nullsS = c.stride_null_counts.get(s)
      val m = Map.newBuilder[String, Array[Byte]]
      colSegs(ci).foreach { case (k, offs, lens) =>
        if (lens(s) == 0) {
          // empty PRESENT segment == "no nulls in this stride" and must
          // stay ABSENT (readPresent treats absence as all-present);
          // other kinds legitimately decode from empty bytes
          if (k != Streams.Present) m += k -> Array.emptyByteArray
        } else {
          m += k -> graft.core.BlockCompression.decompress(kindC, c.streams(k), offs(s), lens(s))
        }
      }
      decodeColumnPrim(ColumnStreams(c.codec, rowsS, nullsS, m.result()), specs(ci))
    }

    new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
      private var s = 0
      private var r = 0
      private var rowsS = 0
      private val cols = new Array[Decoded](nCols)
      private val cursors = new Array[Int](nCols)
      private def advance(): Unit = {
        while (r >= rowsS && s < nStrides) {
          if (strideKeep == null || strideKeep(s)) {
            var c = 0
            while (c < nCols) { cols(c) = decodeStrideCol(c, s); cursors(c) = 0; c += 1 }
            rowsS = math.min(strideN, rowCount - s * strideN)
            r = 0
          }
          s += 1
        }
      }
      def hasNext: Boolean = { advance(); r < rowsS }
      def next(): org.apache.spark.sql.catalyst.InternalRow = {
        advance()
        writeRow(writer, cols, cursors, r)
        r += 1
        writer.getRow
      }
    }
  }
}
