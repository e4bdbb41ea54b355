package graft.spark

import graft.columns._
import graft.core.{ByteBuf, BytesIn, RleV2Reader, ZlibBlock}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.orc.OrcProto
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Whole-file ORC interop — the product surface of the reference's primary
  * deliverable: an actual `.orc` container other tools (Trino / Hive /
  * Spark's stock reader) can consume, and a reader for files THEY wrote.
  * Mirrors /root/reference/src/ApacheOrcDotNet/OrcWriter.cs:21-105 (writer
  * facade over the stripe lifecycle) and FileTail.cs:22-54 (tail parse),
  * re-expressed Spark-first: one ORC file per partition, stripes flushed
  * every `stripeRows` rows inside a single mapPartitions pass, the tail
  * protobufs from the orc-format classes every Spark distribution ships.
  *
  * graft's own chunk-table layout (EncodeJob) remains the primary wire
  * format — richer codecs (FSST), stride-segmented pruning, manifest
  * resume. This API is the interchange path at the format boundary, built
  * on the SAME ColumnCodec encoders the chunk path uses (their
  * ORC-conformance is proven against Java ORC's production RecordReader in
  * OrcFileAssemblySpec / OrcInteropSpec).
  *
  * Scale shape: no shuffle — each input partition writes its own file
  * (writers are embarrassingly parallel); each file is read by one task.
  * A stripe's columns are buffered in memory before flush, bounded by
  * `stripeRows` (the reference buffers a whole 64 MiB stripe the same way,
  * StripeWriter.cs:52-191). Readers fetch one stripe at a time.
  *
  * Supported types: the full codec funnel — int family, boolean, float,
  * double, string (direct + sorted dictionary), binary, timestamp, date,
  * decimal ≤38. Nested types are out of scope (so is the reference).
  */
object OrcInterop {

  final case class OrcFileInfo(path: String, rows: Long, bytes: Long)

  // ---------- write ----------

  /** Write `df` as one ORC file per partition under `dir` (part-NNNNN.orc).
    * Dictionary encoding is auto-pinned per string column from a bounded
    * reservoir sample unless `dictColumns` is given (FSST-pinned columns
    * fall back to direct — ORC has no FSST stream kind). Returns one info
    * row per written file. Runs the job eagerly.
    */
  def writeOrcFiles(df: DataFrame, dir: String, stripeRows: Int = 1 << 20,
                    dictColumns: Option[Set[String]] = None): Array[OrcFileInfo] = {
    val stringCodecs: Map[String, String] = dictColumns match {
      case Some(set) =>
        df.schema.fields.collect { case f if f.dataType == StringType =>
          f.name -> (if (set(f.name)) Codecs.StringDictV2 else Codecs.StringDirect)
        }.toMap
      case None =>
        EncodeJob.pinStringCodecs(df, 5000).map { case (name, codec) =>
          name -> (if (codec == Codecs.StringDictV2) codec else Codecs.StringDirect)
        }
    }
    val specs = TableEncoder.columnSpecs(df.schema, stringCodecs)
    val shredded = TableEncoder.shred(df, specs)
    val conf = HadoopFiles.broadcastConf(df.sparkSession)
    shredded.rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val path = new Path(dir, f"part-$pid%05d.orc")
        val info = writePartition(path, specs, rows, stripeRows, conf.value.value)
        Iterator.single(info)
      }
    }.collect()
  }

  /** Single-file convenience: coalesce to one partition, write exactly
    * `path`. For data that fits one writer; use [[writeOrcFiles]] at scale.
    */
  def writeOrcFile(df: DataFrame, path: String, stripeRows: Int = 1 << 20,
                   dictColumns: Option[Set[String]] = None): OrcFileInfo = {
    val tmp = path + ".dir"
    val infos = writeOrcFiles(df.coalesce(1), tmp, stripeRows, dictColumns)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val dst = new Path(path)
    val fs = dst.getFileSystem(conf)
    fs.delete(dst, false)
    if (infos.isEmpty) { // empty input: a valid zero-stripe container
      writePartition(dst, TableEncoder.columnSpecs(df.schema,
        df.schema.fields.collect { case f if f.dataType == StringType =>
          f.name -> Codecs.StringDirect }.toMap), Iterator.empty, stripeRows, conf)
    } else {
      fs.rename(new Path(infos.head.path), dst)
      fs.delete(new Path(tmp), true)
      infos.head.copy(path = path)
    }
  }

  private def streamOrder(k: String): Int = k match {
    case Streams.Present        => 0
    case Streams.Data           => 1
    case Streams.Length         => 2
    case Streams.DictionaryData => 3
    case Streams.Secondary      => 4
    case _ => throw new IllegalArgumentException(s"stream kind $k has no ORC equivalent")
  }

  private def protoKind(k: String): OrcProto.Stream.Kind = k match {
    case Streams.Present        => OrcProto.Stream.Kind.PRESENT
    case Streams.Data           => OrcProto.Stream.Kind.DATA
    case Streams.Length         => OrcProto.Stream.Kind.LENGTH
    case Streams.DictionaryData => OrcProto.Stream.Kind.DICTIONARY_DATA
    case Streams.Secondary      => OrcProto.Stream.Kind.SECONDARY
  }

  /** ORC footer Type for a column spec. */
  private def protoType(s: ColumnSpec): OrcProto.Type = {
    val b = OrcProto.Type.newBuilder()
    s.logical match {
      case "long" => b.setKind(s.narrow match {
        case "int"   => OrcProto.Type.Kind.INT
        case "short" => OrcProto.Type.Kind.SHORT
        case "byte"  => OrcProto.Type.Kind.BYTE
        case _       => OrcProto.Type.Kind.LONG
      })
      case "bool"      => b.setKind(OrcProto.Type.Kind.BOOLEAN)
      case "double"    => b.setKind(OrcProto.Type.Kind.DOUBLE)
      case "float"     => b.setKind(OrcProto.Type.Kind.FLOAT)
      case "string"    => b.setKind(OrcProto.Type.Kind.STRING)
      case "binary"    => b.setKind(OrcProto.Type.Kind.BINARY)
      case "timestamp" | "timestamp_ntz" => b.setKind(OrcProto.Type.Kind.TIMESTAMP)
      case "date"      => b.setKind(OrcProto.Type.Kind.DATE)
      case "decimal" | "decimal128" =>
        val Array(p, sc) = s.narrow.split(',').map(_.trim.toInt)
        b.setKind(OrcProto.Type.Kind.DECIMAL).setPrecision(p).setScale(sc)
      case other => throw new IllegalArgumentException(s"unsupported ORC type for ${s.name}: $other")
    }
    b.build()
  }

  /** Per-column stripe buffer over SHREDDED physical rows (long / bool /
    * double / float / binary / BigDecimal for decimal128). Scalar buffers
    * are the graft.core primitive growables — no per-row boxing on the
    * write hot path.
    */
  private sealed trait WBuf {
    val present = new graft.core.BoolBuf(1024)
    def add(row: Row, i: Int): Unit
    /** (streams, columnEncoding) for the buffered stripe slice. */
    def encode(): (ColumnStreams, OrcProto.ColumnEncoding)
    def clear(): Unit = present.clear()
    protected def direct(k: OrcProto.ColumnEncoding.Kind = OrcProto.ColumnEncoding.Kind.DIRECT_V2)
        : OrcProto.ColumnEncoding =
      OrcProto.ColumnEncoding.newBuilder().setKind(k).build()
  }

  private final class LongWBuf(spec: ColumnSpec) extends WBuf {
    private val values = new graft.core.LongBuf(1024)
    def add(row: Row, i: Int): Unit =
      if (row.isNullAt(i)) present.add(false)
      else { present.add(true); values.add(row.getLong(i)) }
    def encode(): (ColumnStreams, OrcProto.ColumnEncoding) = {
      val pres = present.toArray
      val vals = values.toArray
      spec.logical match {
        case "long" if spec.narrow == "byte" =>
          val bytes = new Array[Byte](vals.length)
          var i = 0
          while (i < vals.length) { bytes(i) = vals(i).toByte; i += 1 }
          (ColumnCodec.encodeByte(bytes, pres), direct(OrcProto.ColumnEncoding.Kind.DIRECT))
        case "timestamp" | "timestamp_ntz" =>
          (ColumnCodec.encodeTimestamp(vals, pres), direct())
        case "date"    => (ColumnCodec.encodeDate(vals, pres), direct())
        case "decimal" =>
          val sc = spec.narrow.split(',')(1).trim.toLong
          (ColumnCodec.encodeDecimal18(vals, Array.fill(vals.length)(sc), pres), direct())
        case _         => (ColumnCodec.encodeLong(vals, pres), direct())
      }
    }
    override def clear(): Unit = { super.clear(); values.clear() }
  }

  private final class BoolWBuf extends WBuf {
    private val values = new graft.core.BoolBuf(1024)
    def add(row: Row, i: Int): Unit =
      if (row.isNullAt(i)) present.add(false)
      else { present.add(true); values.add(row.getBoolean(i)) }
    def encode(): (ColumnStreams, OrcProto.ColumnEncoding) =
      (ColumnCodec.encodeBool(values.toArray, present.toArray),
        direct(OrcProto.ColumnEncoding.Kind.DIRECT))
    override def clear(): Unit = { super.clear(); values.clear() }
  }

  private final class DoubleWBuf extends WBuf {
    private val values = new graft.core.DoubleBuf(1024)
    def add(row: Row, i: Int): Unit =
      if (row.isNullAt(i)) present.add(false)
      else { present.add(true); values.add(row.getDouble(i)) }
    def encode(): (ColumnStreams, OrcProto.ColumnEncoding) =
      (ColumnCodec.encodeDouble(values.toArray, present.toArray),
        direct(OrcProto.ColumnEncoding.Kind.DIRECT))
    override def clear(): Unit = { super.clear(); values.clear() }
  }

  private final class FloatWBuf extends WBuf {
    private val values = new graft.core.FloatBuf(1024)
    def add(row: Row, i: Int): Unit =
      if (row.isNullAt(i)) present.add(false)
      else { present.add(true); values.add(row.getFloat(i)) }
    def encode(): (ColumnStreams, OrcProto.ColumnEncoding) =
      (ColumnCodec.encodeFloat(values.toArray, present.toArray),
        direct(OrcProto.ColumnEncoding.Kind.DIRECT))
    override def clear(): Unit = { super.clear(); values.clear() }
  }

  private final class BytesWBuf(spec: ColumnSpec) extends WBuf {
    private val values = new ArrayBuffer[Array[Byte]]()
    def add(row: Row, i: Int): Unit =
      if (row.isNullAt(i)) present.add(false)
      else { present.add(true); values += row.getAs[Array[Byte]](i) }
    def encode(): (ColumnStreams, OrcProto.ColumnEncoding) = {
      val pres = present.toArray
      val vals = values.toArray
      if (spec.logical == "binary")
        (ColumnCodec.encodeBinary(vals, pres), direct())
      else if (spec.stringCodec == Codecs.StringDictV2) {
        val cs = ColumnCodec.encodeStrBytesDict(vals, pres)
        val dictSize = RleV2Reader.readAll(new BytesIn(cs.streams(Streams.Length)), signed = false).length
        (cs, OrcProto.ColumnEncoding.newBuilder()
          .setKind(OrcProto.ColumnEncoding.Kind.DICTIONARY_V2).setDictionarySize(dictSize).build())
      } else
        (ColumnCodec.encodeStrBytesDirect(vals, pres), direct())
    }
    override def clear(): Unit = { super.clear(); values.clear() }
  }

  private final class Dec128WBuf(spec: ColumnSpec) extends WBuf {
    private val scale = spec.narrow.split(',')(1).trim.toInt
    private val values = new ArrayBuffer[java.math.BigInteger]()
    def add(row: Row, i: Int): Unit =
      if (row.isNullAt(i)) present.add(false)
      else { present.add(true); values += row.getDecimal(i).setScale(scale).unscaledValue() }
    def encode(): (ColumnStreams, OrcProto.ColumnEncoding) =
      (ColumnCodec.encodeDecimal128(values.toArray, Array.fill(values.length)(scale.toLong),
        present.toArray), direct())
    override def clear(): Unit = { super.clear(); values.clear() }
  }

  private def bufFor(spec: ColumnSpec): WBuf = spec.logical match {
    case "long" | "timestamp" | "timestamp_ntz" | "date" | "decimal" => new LongWBuf(spec)
    case "bool"              => new BoolWBuf
    case "double"            => new DoubleWBuf
    case "float"             => new FloatWBuf
    case "string" | "binary" => new BytesWBuf(spec)
    case "decimal128"        => new Dec128WBuf(spec)
    case other => throw new IllegalArgumentException(s"unsupported logical type $other")
  }

  private val BlockSize = ZlibBlock.DefaultBlockSize

  /** One partition → one multi-stripe ORC file. */
  private def writePartition(path: Path, specs: Array[ColumnSpec],
                             rows: Iterator[Row], stripeRows: Int,
                             conf: Configuration): OrcFileInfo = {
    val fs = path.getFileSystem(conf)
    fs.mkdirs(path.getParent)
    val out = fs.create(path, true)
    var pos = 0L
    def write(b: Array[Byte]): Unit = { out.write(b); pos += b.length }

    write("ORC".getBytes("ASCII"))
    val stripeInfos = new ArrayBuffer[OrcProto.StripeInformation]()
    val bufs = specs.map(bufFor)
    var buffered = 0
    var total = 0L

    def flushStripe(): Unit = {
      if (buffered == 0) return
      val stripeStart = pos
      val encoded = bufs.map(_.encode())
      val streamList = new ArrayBuffer[OrcProto.Stream]()
      encoded.zipWithIndex.foreach { case ((cs, _), i) =>
        cs.streams.toSeq.sortBy(s => streamOrder(s._1)).foreach { case (kind, bytes) =>
          val z = ZlibBlock.compress(bytes, BlockSize)
          write(z)
          streamList += OrcProto.Stream.newBuilder()
            .setKind(protoKind(kind)).setColumn(i + 1).setLength(z.length.toLong).build()
        }
      }
      val sfB = OrcProto.StripeFooter.newBuilder()
      streamList.foreach(sfB.addStreams)
      sfB.addColumns(OrcProto.ColumnEncoding.newBuilder()
        .setKind(OrcProto.ColumnEncoding.Kind.DIRECT)) // root struct
      encoded.foreach { case (_, enc) => sfB.addColumns(enc) }
      sfB.setWriterTimezone("UTC")
      val sfBytes = ZlibBlock.compress(sfB.build().toByteArray, BlockSize)
      val dataLength = pos - stripeStart
      write(sfBytes)
      stripeInfos += OrcProto.StripeInformation.newBuilder()
        .setOffset(stripeStart).setIndexLength(0L).setDataLength(dataLength)
        .setFooterLength(sfBytes.length.toLong).setNumberOfRows(buffered.toLong).build()
      total += buffered
      bufs.foreach(_.clear())
      buffered = 0
    }

    while (rows.hasNext) {
      val row = rows.next()
      var i = 0
      while (i < bufs.length) { bufs(i).add(row, i); i += 1 }
      buffered += 1
      if (buffered >= stripeRows) flushStripe()
    }
    flushStripe()
    val contentEnd = pos

    val metadataBytes = ZlibBlock.compress(
      OrcProto.Metadata.newBuilder().build().toByteArray, BlockSize)
    write(metadataBytes)

    val fB = OrcProto.Footer.newBuilder()
      .setHeaderLength(3L).setContentLength(contentEnd)
      .setNumberOfRows(total).setRowIndexStride(0)
    stripeInfos.foreach(fB.addStripes)
    val rootB = OrcProto.Type.newBuilder().setKind(OrcProto.Type.Kind.STRUCT)
    specs.zipWithIndex.foreach { case (s, i) => rootB.addSubtypes(i + 1); rootB.addFieldNames(s.name) }
    fB.addTypes(rootB)
    specs.foreach(s => fB.addTypes(protoType(s)))
    val footerBytes = ZlibBlock.compress(fB.build().toByteArray, BlockSize)
    write(footerBytes)

    val ps = OrcProto.PostScript.newBuilder()
      .setFooterLength(footerBytes.length.toLong)
      .setCompression(OrcProto.CompressionKind.ZLIB)
      .setCompressionBlockSize(BlockSize.toLong)
      .addVersion(0).addVersion(12)
      .setMetadataLength(metadataBytes.length.toLong)
      .setWriterVersion(org.apache.orc.OrcFile.CURRENT_WRITER.getId)
      .setMagic("ORC")
      .build().toByteArray
    write(ps)
    out.write(ps.length)
    pos += 1
    out.close()
    OrcFileInfo(path.toString, total, pos)
  }

  // ---------- read ----------

  /** Read an ORC file (or a directory of them) written by this API or by
    * any conformant writer (Java ORC, Spark's stock sink with zlib/none
    * compression) through graft's own tail parser + ColumnCodec decoders.
    * One task per file; each task fetches one stripe's byte range at a
    * time. ROW_INDEX / BLOOM streams are skipped (the chunk-table layout
    * is where graft exploits indexes; this path is format interchange).
    */
  def readOrcFile(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files: Array[String] = {
      val st = fs.getFileStatus(root)
      if (st.isFile) Array(root.toString)
      else fs.listStatus(root).filter(s => s.isFile && s.getPath.getName.endsWith(".orc"))
        .map(_.getPath.toString).sorted
    }
    require(files.nonEmpty, s"no .orc files under $path")
    val (footer, _) = readTail(fs, new Path(files.head))
    val schema = schemaOf(footer)
    val conf = HadoopFiles.broadcastConf(spark)
    val rdd = spark.sparkContext.parallelize(files.toIndexedSeq, files.length)
      .flatMap(f => readFileRows(f, conf.value.value))
    spark.createDataFrame(rdd, schema)
  }

  private def schemaOf(footer: OrcProto.Footer): StructType = {
    val root = footer.getTypes(0)
    require(root.getKind == OrcProto.Type.Kind.STRUCT, "root type must be a struct")
    StructType((0 until root.getSubtypesCount).map { i =>
      val t = footer.getTypes(root.getSubtypes(i))
      require(t.getSubtypesCount == 0, s"nested ORC types not supported (${root.getFieldNames(i)})")
      val dt = t.getKind match {
        case OrcProto.Type.Kind.LONG      => LongType
        case OrcProto.Type.Kind.INT       => IntegerType
        case OrcProto.Type.Kind.SHORT     => ShortType
        case OrcProto.Type.Kind.BYTE      => ByteType
        case OrcProto.Type.Kind.BOOLEAN   => BooleanType
        case OrcProto.Type.Kind.DOUBLE    => DoubleType
        case OrcProto.Type.Kind.FLOAT     => FloatType
        case OrcProto.Type.Kind.STRING    => StringType
        case OrcProto.Type.Kind.VARCHAR   => StringType
        case OrcProto.Type.Kind.BINARY    => BinaryType
        case OrcProto.Type.Kind.TIMESTAMP => TimestampType
        case OrcProto.Type.Kind.DATE      => DateType
        case OrcProto.Type.Kind.DECIMAL   => DecimalType(t.getPrecision, t.getScale)
        case other => throw new IllegalArgumentException(s"unsupported ORC type $other")
      }
      StructField(root.getFieldNames(i), dt)
    })
  }

  /** Parse PostScript + Footer from the file tail (FileTail.cs:22-54). */
  private def readTail(fs: FileSystem, p: Path): (OrcProto.Footer, OrcProto.PostScript) = {
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      def tailBytes(n: Long): Array[Byte] = {
        val take = math.min(len, n)
        val buf = new Array[Byte](take.toInt)
        in.readFully(len - take, buf)
        buf
      }
      var buf = tailBytes(64 * 1024)
      val psLen = buf(buf.length - 1) & 0xff
      val ps = OrcProto.PostScript.parseFrom(
        java.util.Arrays.copyOfRange(buf, buf.length - 1 - psLen, buf.length - 1))
      val need = 1L + psLen + ps.getFooterLength
      if (buf.length < need) buf = tailBytes(need)
      val footerEnd = buf.length - 1 - psLen
      val footer = OrcProto.Footer.parseFrom(unframe(
        java.util.Arrays.copyOfRange(buf, (footerEnd - ps.getFooterLength).toInt, footerEnd),
        ps.getCompression))
      (footer, ps)
    } finally in.close()
  }

  private def unframe(bytes: Array[Byte], kind: OrcProto.CompressionKind): Array[Byte] =
    kind match {
      case OrcProto.CompressionKind.ZLIB => ZlibBlock.decompress(bytes)
      case OrcProto.CompressionKind.NONE => bytes
      case other => throw new IllegalArgumentException(
        s"unsupported ORC compression $other (zlib/none supported)")
    }

  /** Decode every stripe of one file into external Rows. */
  private def readFileRows(file: String, conf: Configuration): Iterator[Row] = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val (footer, ps) = readTail(fs, p)
    val schema = schemaOf(footer)
    val stripes = footer.getStripesList
    val in = fs.open(p)
    // a partially-consumed iterator (df.limit/take) never reaches the
    // drained-close below — close on task completion so no task leaks a
    // file handle (no-op off-executor, e.g. in driver-side tests)
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ =>
        try in.close() catch { case _: java.io.IOException => () }))
    var si = 0
    new Iterator[Row] {
      private var current: Iterator[Row] = Iterator.empty
      private def advance(): Unit = {
        while (!current.hasNext && si < stripes.size()) {
          current = readStripe(in, stripes.get(si), footer, ps, schema)
          si += 1
        }
        if (!current.hasNext && si >= stripes.size())
          try in.close() catch { case _: java.io.IOException => () }
      }
      def hasNext: Boolean = { advance(); current.hasNext }
      def next(): Row = { advance(); current.next() }
    }
  }

  private def readStripe(in: org.apache.hadoop.fs.FSDataInputStream,
                         stripe: OrcProto.StripeInformation, footer: OrcProto.Footer,
                         ps: OrcProto.PostScript, schema: StructType): Iterator[Row] = {
    val rows = stripe.getNumberOfRows.toInt
    val bodyLen = (stripe.getIndexLength + stripe.getDataLength).toInt
    val body = new Array[Byte](bodyLen)
    in.readFully(stripe.getOffset, body)
    val sfBytes = new Array[Byte](stripe.getFooterLength.toInt)
    in.readFully(stripe.getOffset + bodyLen, sfBytes)
    val sf = OrcProto.StripeFooter.parseFrom(unframe(sfBytes, ps.getCompression))

    // stream directory → per-(column, kind) decompressed bytes
    val streams = scala.collection.mutable.Map[(Int, OrcProto.Stream.Kind), Array[Byte]]()
    var off = 0L
    sf.getStreamsList.forEach { s =>
      if (s.getKind == OrcProto.Stream.Kind.PRESENT ||
          s.getKind == OrcProto.Stream.Kind.DATA ||
          s.getKind == OrcProto.Stream.Kind.LENGTH ||
          s.getKind == OrcProto.Stream.Kind.DICTIONARY_DATA ||
          s.getKind == OrcProto.Stream.Kind.SECONDARY)
        streams((s.getColumn, s.getKind)) = unframe(
          java.util.Arrays.copyOfRange(body, off.toInt, (off + s.getLength).toInt),
          ps.getCompression)
      off += s.getLength
    }

    // per column: (present bitmap, non-null value getter by value index)
    val cols: Array[(Array[Boolean], Int => Any)] = schema.fields.indices.toArray.map { i =>
      val colId = i + 1
      val m = Map.newBuilder[String, Array[Byte]]
      streams.get((colId, OrcProto.Stream.Kind.PRESENT)).foreach(b => m += Streams.Present -> b)
      streams.get((colId, OrcProto.Stream.Kind.DATA)).foreach(b => m += Streams.Data -> b)
      streams.get((colId, OrcProto.Stream.Kind.LENGTH)).foreach(b => m += Streams.Length -> b)
      streams.get((colId, OrcProto.Stream.Kind.DICTIONARY_DATA))
        .foreach(b => m += Streams.DictionaryData -> b)
      streams.get((colId, OrcProto.Stream.Kind.SECONDARY)).foreach(b => m += Streams.Secondary -> b)
      val streamMap = m.result()
      val present = streamMap.get(Streams.Present) match {
        case Some(bytes) => graft.core.BitCodec.read(new BytesIn(bytes), rows)
        case None        => Array.fill(rows)(true)
      }
      var nulls = 0
      present.foreach(b => if (!b) nulls += 1)
      val enc = sf.getColumns(colId).getKind
      def requireV2(): Unit = require(
        enc == OrcProto.ColumnEncoding.Kind.DIRECT_V2 ||
          enc == OrcProto.ColumnEncoding.Kind.DICTIONARY_V2,
        s"RLEv1 encodings not supported (column ${schema.fields(i).name}: $enc)")
      def cs(codec: String) = ColumnStreams(codec, rows, nulls, streamMap)
      val getter: Int => Any = schema.fields(i).dataType match {
        case LongType    => requireV2(); val (v, _) = ColumnCodec.decodeLong(cs(Codecs.LongRleV2)); v(_)
        case IntegerType => requireV2(); val (v, _) = ColumnCodec.decodeLong(cs(Codecs.LongRleV2)); j => v(j).toInt
        case ShortType   => requireV2(); val (v, _) = ColumnCodec.decodeLong(cs(Codecs.LongRleV2)); j => v(j).toShort
        case ByteType    => val (v, _) = ColumnCodec.decodeByte(cs(Codecs.ByteRleC)); v(_)
        case BooleanType => val (v, _) = ColumnCodec.decodeBool(cs(Codecs.Bool)); v(_)
        case DoubleType  => val (v, _) = ColumnCodec.decodeDouble(cs(Codecs.DoubleRaw)); v(_)
        case FloatType   => val (v, _) = ColumnCodec.decodeFloat(cs(Codecs.FloatRaw)); v(_)
        case BinaryType  => requireV2(); val (v, _) = ColumnCodec.decodeBinary(cs(Codecs.Binary)); v(_)
        case StringType =>
          requireV2()
          val codec = if (enc == OrcProto.ColumnEncoding.Kind.DICTIONARY_V2) Codecs.StringDictV2
                      else Codecs.StringDirect
          val (v, _) = ColumnCodec.decodeString(cs(codec))
          v(_)
        case TimestampType =>
          requireV2()
          val (micros, _) = ColumnCodec.decodeTimestamp(cs(Codecs.TimestampFor))
          j => {
            val us = micros(j)
            val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
            ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
            ts
          }
        case DateType =>
          requireV2()
          val (days, _) = ColumnCodec.decodeDate(cs(Codecs.Date))
          j => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days(j)))
        case dt: DecimalType if dt.precision <= 18 =>
          requireV2()
          val (mant, sc, _) = ColumnCodec.decodeDecimal18(cs(Codecs.Decimal18))
          j => new java.math.BigDecimal(java.math.BigInteger.valueOf(mant(j)), sc(j).toInt)
            .setScale(dt.scale)
        case dt: DecimalType =>
          requireV2()
          val (mant, sc, _) = ColumnCodec.decodeDecimal128(cs(Codecs.Decimal128))
          j => new java.math.BigDecimal(mant(j), sc(j).toInt).setScale(dt.scale)
        case other => throw new IllegalArgumentException(s"unsupported read type $other")
      }
      (present, getter)
    }

    val cursors = new Array[Int](cols.length)
    (0 until rows).iterator.map { r =>
      val vals = new Array[Any](cols.length)
      var c = 0
      while (c < cols.length) {
        val (present, get) = cols(c)
        if (present(r)) { vals(c) = get(cursors(c)); cursors(c) += 1 }
        else vals(c) = null
        c += 1
      }
      Row.fromSeq(vals.toIndexedSeq)
    }
  }
}
