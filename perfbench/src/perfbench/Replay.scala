package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

import graft.columns.{CodecSelector, ColumnCodec, ColumnStreams}
import graft.core.{BlockCompression, ByteBuf, BytesIn, Fsst, RleV2Reader, RleV2Writer}
import graft.spark.{EncodeJob, TableEncoder, TableMeta}

/** Layer numbers measured outside the Spark jobs: timed calls into the
  * public functions of `graft.spark`, `graft.columns` and `graft.core`
  * on the workload's own input. `encSecPerRawByte`/`decSecPerRawByte`
  * are the single-threaded codec costs (column codec plus zlib) per raw
  * byte, for the busy-time estimate of the reconciliation.
  */
final case class ReplayResult(metrics: Seq[Metric], encSecPerRawByte: Double,
                              decSecPerRawByte: Double)

object Replay {
  /** Rows of the replayed chunk, taken from the start of the input. */
  final val ChunkRows = 2048
  private final val MinRepNs = 150L * 1000000L
  private final val MinReps = 3

  /** Median seconds per repetition; repeats for at least `MinRepNs`. */
  private def bench(ctx: Ctx, name: String)(body: => Unit): Double = ctx.tracer.span(name) {
    val ts = ArrayBuffer[Double]()
    val start = System.nanoTime()
    while (ts.size < MinReps || System.nanoTime() - start < MinRepNs) {
      val t = System.nanoTime()
      body
      ts += (System.nanoTime() - t) / 1e9
    }
    Stats.median(ts.toSeq)
  }

  private def once[T](ctx: Ctx, name: String)(body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = ctx.tracer.span(name)(body)
    (r, (System.nanoTime() - t) / 1e9)
  }

  private def mbS(bytes: Long, s: Double): Double = bytes / 1e6 / s

  def run(ctx: Ctx, w: Workload): ReplayResult = {
    val input = w.input
    val out = ArrayBuffer[Metric]()

    // graft.spark: codec pinning, and encode without a write
    val (pinned, pinS) = once(ctx, "encodejob.pinStringCodecs")(
      EncodeJob.pinStringCodecs(input, Data.SampleRows))
    val specs = TableEncoder.columnSpecs(input.schema, pinned)
    val (chunks, encodeS) = once(ctx, "tableencoder.encode") {
      TableEncoder.encode(TableEncoder.shred(input, specs), specs,
        compression = BlockCompression.Zlib, segmented = true)
        .select("column", "raw_bytes", "encoded_bytes").collect()
    }
    val writeDir = s"${ctx.repDir}/replay-write"
    val (_, writeS) = once(ctx, "encodejob.write") {
      input.write.format("graft")
        .option("numPartitions", Data.InputPartitions.toString)
        .option("sampleRows", Data.SampleRows.toString)
        .save(writeDir)
    }
    FsUtil.deleteRecursively(new java.io.File(writeDir))
    out += Metric("encodejob.pin_codecs_s", pinS, "s")
    out += Metric("tableencoder.encode_s", encodeS, "s")
    out += Metric("encodejob.write_commit_s", writeS - encodeS, "s")
    Data.Columns.foreach { c =>
      val mine = chunks.filter(_.getString(0) == c)
      val raw = mine.map(_.getLong(1)).sum
      out += Metric(s"columns.bytes_per_raw_byte.$c",
        if (raw == 0) 0.0 else mine.map(_.getLong(2)).sum.toDouble / raw, "ratio")
    }

    // graft.spark.TableMeta: warm hits, then loads after invalidation
    val table = w.tablePath(ctx)
    val hitS = bench(ctx, "tablemeta.snapshot")(TableMeta.snapshot(ctx.spark, table))
    val missS = bench(ctx, "tablemeta.snapshot_miss") {
      TableMeta.invalidateAll()
      TableMeta.snapshot(ctx.spark, table)
    }
    out += Metric("tablemeta.snapshot_ms", hitS * 1000, "ms")
    out += Metric("tablemeta.snapshot_miss_ms", missS * 1000, "ms")
    out += Metric("tablemeta.commit_files", FsUtil.commitFiles(table).toDouble, "count")

    // one chunk of the workload's own columns, single-threaded
    val rows = input.limit(ChunkRows).collect()
    val n = rows.length
    val present = Array.fill(n)(true)
    def strBytes(c: String) = rows.map(_.getAs[String](c).getBytes(UTF_8))
    val strings = Seq("url", "text", "lang").map(c => c -> strBytes(c))
    val html = rows.map(_.getAs[Array[Byte]]("html"))
    val ts = rows.map(r => Data.micros(r.getAs[java.sql.Timestamp]("warc_ts")))
    val strRaw = strings.map(_._2.map(_.length.toLong).sum).sum
    val htmlRaw = html.map(_.length.toLong).sum
    val tsRaw = 8L * n

    // FSST symbol tables are trained once per partition in the engine, so
    // they are trained here outside the timed encodes
    def corpus(v: Array[Array[Byte]]): Array[Byte] = {
      val b = new ByteBuf(1 << 16)
      v.iterator.takeWhile(_ => b.length < (1 << 16)).foreach(x => b.writeBytes(x))
      b.toArray
    }
    val codecs = strings.map { case (c, _) => c -> pinned.getOrElse(c, graft.columns.Codecs.StringDirect) }.toMap
    val tables = strings.collect { case (c, v) if codecs(c) == graft.columns.Codecs.StringFsst =>
      c -> Fsst.train(corpus(v))
    }.toMap
    def encStrings(): Seq[ColumnStreams] = strings.map { case (c, v) =>
      CodecSelector.encodeStrBytes(codecs(c), v, present, tables.getOrElse(c, null))
    }
    val strEncS = bench(ctx, "columns.encode.string")(encStrings())
    val binEncS = bench(ctx, "columns.encode.binary")(ColumnCodec.encodeBinary(html, present))
    val tsEncS = bench(ctx, "columns.encode.timestamp")(ColumnCodec.encodeTimestamp(ts, present))
    val strCs = encStrings()
    val binCs = ColumnCodec.encodeBinary(html, present)
    val tsCs = ColumnCodec.encodeTimestamp(ts, present)
    val strDecS = bench(ctx, "columns.decode.string")(strCs.foreach(ColumnCodec.decodeStrBytes))
    val binDecS = bench(ctx, "columns.decode.binary")(ColumnCodec.decodeBinary(binCs))
    val tsDecS = bench(ctx, "columns.decode.timestamp")(ColumnCodec.decodeTimestamp(tsCs))
    out += Metric("columns.encode_mb_s.string", mbS(strRaw, strEncS), "MB/s")
    out += Metric("columns.encode_mb_s.binary", mbS(htmlRaw, binEncS), "MB/s")
    out += Metric("columns.encode_mb_s.timestamp", mbS(tsRaw, tsEncS), "MB/s")
    out += Metric("columns.decode_mb_s.string", mbS(strRaw, strDecS), "MB/s")
    out += Metric("columns.decode_mb_s.binary", mbS(htmlRaw, binDecS), "MB/s")
    out += Metric("columns.decode_mb_s.timestamp", mbS(tsRaw, tsDecS), "MB/s")

    // graft.core: block compression of the encoded streams
    val streams = (strCs :+ binCs :+ tsCs).flatMap(_.streams.values)
    val streamBytes = streams.map(_.length.toLong).sum
    val zipS = bench(ctx, "core.zlib.compress")(streams.foreach(BlockCompression.compress(BlockCompression.Zlib, _)))
    val zipped = streams.map(BlockCompression.compress(BlockCompression.Zlib, _))
    val unzipS = bench(ctx, "core.zlib.decompress")(zipped.foreach(BlockCompression.decompress(BlockCompression.Zlib, _)))
    out += Metric("core.zlib.compress_mb_s", mbS(streamBytes, zipS), "MB/s")
    out += Metric("core.zlib.decompress_mb_s", mbS(streamBytes, unzipS), "MB/s")

    // graft.core: FSST over the text column (symbol table trained once)
    val text = strings.find(_._1 == "text").get._2
    val textRaw = text.map(_.length.toLong).sum
    val symbols = tables.getOrElse("text", Fsst.train(corpus(text)))
    val fsstOut = new ByteBuf(1 << 20)
    val ends = new Array[Int](n)
    def fsstCompress(): Unit = {
      fsstOut.reset()
      var i = 0
      while (i < n) { Fsst.compress(symbols, text(i), fsstOut); ends(i) = fsstOut.length; i += 1 }
    }
    val fsstS = bench(ctx, "core.fsst.compress")(fsstCompress())
    fsstCompress()
    val fsstData = fsstOut.toArray
    val plain = new ByteBuf(1 << 20)
    val unfsstS = bench(ctx, "core.fsst.decompress") {
      plain.reset()
      var i = 0
      while (i < n) { Fsst.decompress(symbols, fsstData, if (i == 0) 0 else ends(i - 1), ends(i), plain); i += 1 }
    }
    out += Metric("core.fsst.compress_mb_s", mbS(textRaw, fsstS), "MB/s")
    out += Metric("core.fsst.decompress_mb_s", mbS(textRaw, unfsstS), "MB/s")

    // graft.core: RLEv2 over the timestamps (signed) and text lengths
    val lengths = text.map(_.length.toLong)
    val rleBuf = new ByteBuf(1 << 16)
    def rleWrite(): (Array[Byte], Array[Byte]) = {
      rleBuf.reset(); RleV2Writer.write(rleBuf, ts, signed = true, aligned = false)
      val a = rleBuf.toArray
      rleBuf.reset(); RleV2Writer.write(rleBuf, lengths, signed = false, aligned = false)
      (a, rleBuf.toArray)
    }
    val rleWS = bench(ctx, "core.rlev2.write")(rleWrite())
    val (tsRle, lenRle) = rleWrite()
    val rleRS = bench(ctx, "core.rlev2.read") {
      RleV2Reader.read(new BytesIn(tsRle), signed = true, n)
      RleV2Reader.read(new BytesIn(lenRle), signed = false, n)
    }
    out += Metric("core.rlev2.write_mb_s", mbS(16L * n, rleWS), "MB/s")
    out += Metric("core.rlev2.read_mb_s", mbS(16L * n, rleRS), "MB/s")

    val rawTotal = (strRaw + htmlRaw + tsRaw).toDouble
    ReplayResult(out.toSeq,
      (strEncS + binEncS + tsEncS + zipS) / rawTotal,
      (strDecS + binDecS + tsDecS + unzipS) / rawTotal)
  }
}
