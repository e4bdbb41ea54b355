package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** How the engine reaches its files: always through the session's Hadoop
  * conf, which a job ships to its tasks once, as a broadcast.
  */
object HadoopFiles {

  /** A snapshot of the session's Hadoop conf for one job's tasks, as
    * Spark's own `FileScan` ships it: an executor deserializes it once
    * (in local mode never), not once per task.
    */
  def broadcastConf(spark: SparkSession): Broadcast[SerializableConfiguration] = {
    val sc = spark.sparkContext
    sc.broadcast(new SerializableConfiguration(new Configuration(sc.hadoopConfiguration)))
  }

  /** A parquet-mr `Group` reader of one file, opened with `conf` through
    * `HadoopInputFile`. `ParquetReader.builder(readSupport, path)` would
    * build (and XML-parse) a default `Configuration` per file first, only
    * to replace it.
    */
  def groupReader(path: Path, conf: Configuration,
                  readSupport: ReadSupport[Group] = new GroupReadSupport)
      : ParquetReader.Builder[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(path, conf)) {
      override protected def getReadSupport(): ReadSupport[Group] = readSupport
    }
}
