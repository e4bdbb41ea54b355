package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import java.lang.ref.WeakReference

/** How the engine reaches its files: always through the session's Hadoop
  * conf, which a job ships to its tasks once, as a broadcast.
  */
object HadoopFiles {

  /** The conf broadcast of one `SparkContext`, the size of the snapshot
    * it ships and the snapshot's entries. The context is held weakly: a
    * stopped one is not kept alive by its last broadcast.
    */
  private final case class Shipped(sc: WeakReference[SparkContext], size: Int,
                                   entries: java.util.Map[String, String],
                                   conf: Broadcast[SerializableConfiguration])

  private var shipped: Option[Shipped] = None

  /** True iff `conf` holds exactly the snapshot's entries: sizes first,
    * then one walk of `conf` against the snapshot's map.
    */
  private def unchanged(s: Shipped, conf: Configuration): Boolean =
    conf.size() == s.size && {
      val it = conf.iterator()
      var same = true
      var n = 0
      while (same && it.hasNext) {
        val e = it.next()
        same = e.getValue == s.entries.get(e.getKey)
        n += 1
      }
      same && n == s.entries.size()
    }

  /** A snapshot of the session's Hadoop conf for scan tasks, as Spark's
    * own `FileScan` ships it: an executor deserializes it once (in local
    * mode never), not once per task. One broadcast serves every scan of a
    * `SparkContext` while the entries of `sparkContext.hadoopConfiguration`
    * equal the snapshot's; a key set since (a FileSystem scheme, say)
    * makes the next scan ship a new snapshot.
    */
  def broadcastConf(spark: SparkSession): Broadcast[SerializableConfiguration] = synchronized {
    val sc = spark.sparkContext
    shipped.filter(s => (s.sc.get eq sc) && unchanged(s, sc.hadoopConfiguration))
      .getOrElse {
        val snapshot = new Configuration(sc.hadoopConfiguration)
        val entries = new java.util.HashMap[String, String]()
        snapshot.forEach(e => entries.put(e.getKey, e.getValue))
        val s = Shipped(new WeakReference(sc), snapshot.size(), entries,
          sc.broadcast(new SerializableConfiguration(snapshot)))
        shipped = Some(s)
        s
      }.conf
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
