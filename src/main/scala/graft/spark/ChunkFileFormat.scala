package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, MapData}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Chunk files as a Spark `FileFormat`: `EncodeJob` writes
  * `Dataset[EncodedChunk]` through it (`ChunkFile`'s container, one file
  * per writer task, Spark's commit protocol and `partitionBy` unchanged)
  * and its metadata readers read through it. A read that does not ask
  * for `streams` reads each file's footer only. Parquet-generation chunk
  * files (tail magic `PAR1`) are read by `ParquetFileFormat`, file by
  * file, so directories holding both generations read as one table.
  */
final class ChunkFileFormat extends FileFormat {
  override def toString: String = "GraftChunks"
  override def equals(other: Any): Boolean = other.isInstanceOf[ChunkFileFormat]
  override def hashCode(): Int = getClass.hashCode()

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] =
    Some(EncodeJob.chunkFileSchema)

  // a reader needs the whole file: the footer locates every blob
  override def isSplitable(spark: SparkSession, options: Map[String, String],
                           path: Path): Boolean = false

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val missing = EncodeJob.chunkFileSchema.fieldNames.toSet -- dataSchema.fieldNames - "column"
    require(missing.isEmpty, s"chunk rows lack ${missing.mkString(", ")}")
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String = ChunkFile.Extension
      override def newInstance(path: String, dataSchema: StructType,
                               context: TaskAttemptContext): OutputWriter =
        new ChunkFileFormat.ChunkWriter(path, dataSchema, context.getConfiguration)
    }
  }

  override def buildReaderWithPartitionValues(
      spark: SparkSession, dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val parquet = new ParquetFileFormat().buildReaderWithPartitionValues(spark, dataSchema,
      partitionSchema, requiredSchema, filters,
      options + (FileFormat.OPTION_RETURNING_BATCH -> "false"), hadoopConf)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val fields = requiredSchema.fieldNames.map(ChunkFileFormat.field)
    val withStreams = requiredSchema.fieldNames.contains("streams")
    val outSchema = StructType(requiredSchema.fields ++ partitionSchema.fields)
    (file: PartitionedFile) =>
      ChunkFile.open(file.toPath, conf.value.value, knownLength = file.fileSize) match {
        case None => parquet(file)
        case Some(reader) =>
          if (!withStreams) reader.close()
          else Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => reader.close()))
          val toUnsafe = UnsafeProjection.create(outSchema)
          val row = new GenericInternalRow(outSchema.length)
          val pv = file.partitionValues
          var p = 0
          while (p < partitionSchema.length) {
            row.update(fields.length + p, pv.get(p, partitionSchema(p).dataType))
            p += 1
          }
          val entries = reader.entries.iterator
          new Iterator[InternalRow] {
            override def hasNext: Boolean = entries.hasNext || { reader.close(); false }
            override def next(): InternalRow = {
              val e = entries.next()
              val c = if (withStreams) reader.load(e) else e.chunk
              var i = 0
              while (i < fields.length) { row.update(i, fields(i)(c)); i += 1 }
              toUnsafe(row)
            }
          }
      }
  }
}

object ChunkFileFormat {
  /** The `format(...)` name of chunk files. */
  val Name: String = classOf[ChunkFileFormat].getName

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
  private def utf8(s: Option[String]): UTF8String = s.map(UTF8String.fromString).orNull

  /** The Catalyst value of one chunk field; null for a field this
    * container does not know (as a parquet file reads a column it lacks).
    */
  private def field(name: String): EncodedChunk => Any = name match {
    case "part_id"            => _.part_id
    case "chunk_id"           => _.chunk_id
    case "first_row"          => _.first_row
    case "column"             => c => utf8(c.column)
    case "codec"              => c => utf8(c.codec)
    case "row_count"          => _.row_count
    case "null_count"         => _.null_count
    case "streams"            => c => ArrayBasedMapData(c.streams.map { case (k, v) => utf8(k) -> v })
    case "raw_bytes"          => _.raw_bytes
    case "encoded_bytes"      => _.encoded_bytes
    case "min_val"            => c => utf8(c.min_val)
    case "max_val"            => c => utf8(c.max_val)
    case "sum_val"            => _.sum_val.map(Long.box).orNull
    case "stride_rows"        => _.stride_rows
    case "stride_mins"        => _.stride_mins.map(s => ArrayData.toArrayData(s.toArray)).orNull
    case "stride_maxs"        => _.stride_maxs.map(s => ArrayData.toArrayData(s.toArray)).orNull
    case "compression"        => c => utf8(c.compression)
    case "seg_lens"           => _.seg_lens.map(m => ArrayBasedMapData(m.map { case (k, v) =>
                                   utf8(k) -> ArrayData.toArrayData(v.toArray) })).orNull
    case "stride_null_counts" => _.stride_null_counts.map(s => ArrayData.toArrayData(s.toArray)).orNull
    case "bloom"              => _.bloom.orNull
    case "nan_count"          => _.nan_count.map(Int.box).orNull
    case _                    => _ => null
  }

  /** Writes one task's chunk rows (`dataSchema` is `EncodedChunk`'s,
    * less `column` when it is a `partitionBy` directory).
    */
  private final class ChunkWriter(file: String, schema: StructType, conf: Configuration)
      extends OutputWriter {
    private val out = {
      val p = new Path(file)
      new ChunkFile.Writer(p.getFileSystem(conf).create(p, false))
    }
    private def at(name: String): Int = schema.fieldNames.indexOf(name)
    private val oPart = at("part_id"); private val oChunk = at("chunk_id")
    private val oFirst = at("first_row"); private val oColumn = at("column")
    private val oCodec = at("codec"); private val oRows = at("row_count")
    private val oNulls = at("null_count"); private val oStreams = at("streams")
    private val oRaw = at("raw_bytes"); private val oEnc = at("encoded_bytes")
    private val oMin = at("min_val"); private val oMax = at("max_val")
    private val oSum = at("sum_val"); private val oStride = at("stride_rows")
    private val oMins = at("stride_mins"); private val oMaxs = at("stride_maxs")
    private val oComp = at("compression"); private val oSegs = at("seg_lens")
    private val oStrideNulls = at("stride_null_counts"); private val oBloom = at("bloom")
    private val oNan = at("nan_count")

    private def has(r: InternalRow, o: Int) = o >= 0 && !r.isNullAt(o)
    private def str(r: InternalRow, o: Int): Option[String] =
      if (has(r, o)) Some(r.getUTF8String(o).toString) else None
    private def longs(r: InternalRow, o: Int): Option[Seq[Long]] =
      if (has(r, o)) Some(r.getArray(o).toLongArray().toSeq) else None
    private def ints(r: InternalRow, o: Int): Option[Seq[Int]] =
      if (has(r, o)) Some(r.getArray(o).toIntArray().toSeq) else None
    private def map[V](m: MapData, value: (ArrayData, Int) => V): Map[String, V] = {
      val ks = m.keyArray()
      val vs = m.valueArray()
      (0 until m.numElements()).map(i =>
        ks.getUTF8String(i).toString -> (if (vs.isNullAt(i)) null.asInstanceOf[V] else value(vs, i))).toMap
    }

    override def write(r: InternalRow): Unit = out.add(EncodedChunk(
      part_id = r.getInt(oPart),
      chunk_id = r.getInt(oChunk),
      first_row = r.getLong(oFirst),
      column = str(r, oColumn).orNull,
      codec = str(r, oCodec).orNull,
      row_count = r.getInt(oRows),
      null_count = r.getInt(oNulls),
      streams = if (has(r, oStreams)) map(r.getMap(oStreams), _.getBinary(_)) else Map.empty,
      raw_bytes = r.getLong(oRaw),
      encoded_bytes = r.getLong(oEnc),
      min_val = str(r, oMin),
      max_val = str(r, oMax),
      sum_val = if (has(r, oSum)) Some(r.getLong(oSum)) else None,
      stride_rows = r.getInt(oStride),
      stride_mins = longs(r, oMins),
      stride_maxs = longs(r, oMaxs),
      compression = str(r, oComp),
      seg_lens = if (has(r, oSegs))
                   Some(map(r.getMap(oSegs), (a, i) => a.getArray(i).toIntArray().toSeq))
                 else None,
      stride_null_counts = ints(r, oStrideNulls),
      bloom = if (has(r, oBloom)) Some(r.getBinary(oBloom)) else None,
      nan_count = if (has(r, oNan)) Some(r.getInt(oNan)) else None))

    override def close(): Unit = out.close()
    override def path(): String = file
  }
}
