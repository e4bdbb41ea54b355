package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Tables in the column-partitioned chunk layout that older engines wrote
  * (`batch=N/column=<name>/part-NNNNN-*`, one file per writer task per
  * column). The engine still reads such batches but writes none, so specs
  * build them from a batch it wrote.
  */
object LegacyLayout {

  /** Re-lays batch `b` of `outDir` into `column=` dirs through the chunk
    * format's partitioned write: writer task i writes the rows of the
    * batch's i-th chunk file, in file order, one file per column, the
    * files an older engine's writer task i left. Drops the cached index.
    */
  def toColumnPartitioned(spark: SparkSession, outDir: String, b: Int): Unit = {
    val dir = new Path(EncodeJob.chunkBatchDir(outDir, b))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    // an empty writer task's file holds no chunk and re-lays as no file
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(p => ChunkFile.isChunkFileName(p.getName) && ChunkFile.chunks(p, conf).nonEmpty)
      .sortBy(_.getName)
    require(files.nonEmpty, s"$dir holds no row-grouped chunk file")
    val staged = new Path(s"$outDir/_relaid-$b")
    // one scan task per unsplittable file; a union of these keeps the
    // tasks apart (a union of single-partition children may merge them)
    files.map(p => EncodeJob.readChunkFiles(spark, p.toString)).reduce(_ union _)
      .write.partitionBy("column").format(ChunkFileFormat.Name).save(staged.toString)
    val perColumn = fs.listStatus(staged).filter(_.isDirectory).map(d =>
      fs.listStatus(d.getPath).count(f => ChunkFile.isChunkFileName(f.getPath.getName)))
    require(perColumn.nonEmpty && perColumn.forall(_ == files.length),
      s"${files.length} files re-laid as ${perColumn.mkString(",")} per column")
    require(fs.delete(dir, true) && fs.rename(staged, dir), s"could not replace $dir")
    TableMeta.invalidateAll()
  }
}
