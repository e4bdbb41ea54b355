package graft.spark

import graft.spark.source.{ChunkPrune, ChunkStats}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Driver-side table metadata, cached per JVM and validated against the
  * filesystem on EVERY access (guide §6: table formats win at scale by
  * reading manifests instead of re-listing/re-scanning, and Spark itself
  * caches file listings per session). Two caches, both metadata only —
  * never row data, never query results — and both bounded LRU maps of
  * 1024 tables:
  *
  *  - the SNAPSHOT (visibility, per-batch stats, codec lineage, column
  *    sets, the persisted schema and the sort claim). Its validity is a
  *    signature of the table root's listing (`schema.json`, `layout.json`)
  *    and of the manifest + compactions dirs: every commit appends a
  *    manifest file, every compaction adds a record file, and a catalog
  *    ALTER rewrites `schema.json`, so any writer — same JVM or not —
  *    invalidates the entry. A miss parses the JSON files on the driver;
  *    no Spark job.
  *  - the INDEX: each committed batch's chunk files and their footer
  *    rows (every `EncodedChunk` field but the stream blobs: min/max,
  *    null/row/NaN counts, Bloom filter, compression, `seg_lens`), read
  *    on the driver once per batch and revalidated per batch dir listing.
  *    It is the table's one source of per-chunk metadata: plan-time
  *    pruning (scan file keep, DML batch keep), the scan's chunk-file
  *    list, aggregate pushdown's partial rows, the manifest summary of a
  *    write, a rewrite's inherited settings and the layout check are
  *    evaluated against it on the driver, so none of them launches a
  *    Spark job.
  */
object TableMeta {

  final case class Snapshot(
      /** Manifest batch ids (pre-compaction visibility). */
      batchIds: Set[Int],
      /** Highest part_id any manifest row committed (-1 = none). */
      maxPart: Int,
      /** Codec lineage of the NEWEST batch — post-ALTER batches carry
        * strictly more columns, so the newest lineage is the complete one.
        */
      codecs: Option[String],
      /** Per-batch written column sets from the lineage strings. */
      batchColumns: Map[Int, Set[String]],
      /** batch id -> (rows, rawBytes) for size statistics. */
      perBatch: Map[Int, (Long, Long)],
      /** Committed compaction records, oldest first. */
      compactions: Seq[EncodeJob.Compaction],
      /** `codecs` parsed: the string columns' pinned codecs. */
      lineage: Map[String, String])(
      readSchema: () => Option[StructType], readSortClaim: () => Seq[String]) {

    /** The persisted logical schema (`schema.json`); None for a table
      * written before it was persisted. Read on first use, once per
      * snapshot: a reader that never asks (a stream's next range) never
      * opens the file, which a writer may be rewriting.
      */
    lazy val schema: Option[StructType] = readSchema()

    /** The sort claim (`layout.json`), empty when there is none; read on
      * first use, once per snapshot.
      */
    lazy val sortClaim: Seq[String] = readSortClaim()

    /** Batch ids with committed manifest rows, compaction records
      * applied (`EncodeJob.committedBatches`).
      */
    def committed: Set[Int] = Snapshot.applyCompactions(batchIds, compactions)

    /** Time travel: the batch set as of the moment `asOf` committed. Batch
      * ids commit in increasing order on every write path, so "manifest ids
      * ≤ asOf, compaction records with batch ≤ asOf applied" reconstructs
      * exactly what a reader saw then — valid until `vacuum` physically
      * removes replaced batches.
      */
    def committedAsOf(asOf: Int): Set[Int] =
      Snapshot.applyCompactions(batchIds.filter(_ <= asOf), compactions.filter(_.batch <= asOf))

    /** Batch ids a STREAMING reader consumes: the original append batches,
      * never compaction batches — a compacted batch holds only rows some
      * earlier micro-batch already delivered, so surfacing it would
      * double-read every row. Replaced batches stay streamable (their files
      * survive until vacuum).
      */
    def streamable: Set[Int] = batchIds -- compactions.map(_.batch)
  }

  private object Snapshot {
    def applyCompactions(base: Set[Int], records: Seq[EncodeJob.Compaction]): Set[Int] =
      records.foldLeft(base)((acc, c) => acc -- c.replaces + c.batch) --
        // a compaction replaced by a LATER compaction must not resurface
        records.flatMap(_.replaces)
  }

  private val cache = new Lru[String, (String, Snapshot)](1024)

  /** What a snapshot is valid for: one listing of the table root (the
    * length and modification time of `schema.json` and `layout.json`,
    * which a catalog ALTER or a sort-claim change rewrites without a
    * commit), and a listing of the manifest and compactions dirs when the
    * root holds them (every commit adds a manifest file and every
    * compaction a record file).
    */
  private def signature(spark: SparkSession, outDir: String): String = {
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = try fs.listStatus(root) catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    def named(p: String): Option[FileStatus] = {
      val name = new Path(p).getName
      top.find(_.getPath.getName == name)
    }
    def file(p: String): String = named(p).fold("-")(st => s"${st.getLen}:${st.getModificationTime}")
    def dir(p: String): String = named(p).filter(_.isDirectory).fold("-")(st =>
      fs.listStatus(st.getPath).iterator
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .toArray.sorted.mkString(","))
    Seq(dir(EncodeJob.manifestDir(outDir)), dir(EncodeJob.compactionsDir(outDir)),
      file(EncodeJob.schemaPath(outDir)), file(EncodeJob.layoutPath(outDir))).mkString("|")
  }

  /** Test instrumentation: snapshot LOADS (cache misses). */
  private[graft] val snapshotLoads = new java.util.concurrent.atomic.AtomicLong(0)

  /** The table's metadata as of now: validated against the filesystem
    * (`signature`) on every call, reloaded when it changed. A scan takes
    * one and reads everything from it.
    */
  def snapshot(spark: SparkSession, outDir: String): Snapshot = {
    val sig = signature(spark, outDir)
    cache.get(outDir) match {
      case Some((hitSig, snap)) if hitSig == sig => snap
      case _ =>
        snapshotLoads.incrementAndGet()
        val snap = load(spark, outDir)
        cache.put(outDir, (sig, snap))
        snap
    }
  }

  /** Drops `outDir`'s snapshot: its writers call this after rewriting
    * `schema.json` or `layout.json`, so a rewrite within the file time's
    * resolution is seen too.
    */
  def invalidate(outDir: String): Unit = cache.remove(outDir)

  private def load(spark: SparkSession, outDir: String): Snapshot = {
    val comps = EncodeJob.readCompactionRecords(spark, outDir)
    // JSON commit files parse on the driver (no Spark job at all)
    // per batch: (maxPart, rows, rawBytes, lineages)
    val agg = scala.collection.mutable.Map[Int, (Int, Long, Long, List[String])]()
    EncodeJob.manifestEntries(spark, outDir).foreach { e =>
      val (p0, r0, w0, l0) = agg.getOrElse(e.batch_id, (-1, 0L, 0L, Nil))
      agg(e.batch_id) = (math.max(p0, e.part_id), r0 + e.row_count, w0 + e.raw_bytes,
        (Option(e.codecs).toList.filterNot(l0.contains) ++ l0))
    }
    val batchIds = agg.keySet.toSet
    val maxPart = agg.valuesIterator.map(_._1).foldLeft(-1)(math.max)
    val perBatch = agg.iterator.map { case (b, (_, r, w, _)) => b -> (r, w) }.toMap
    val batchColumns = agg.iterator.map { case (b, (_, _, _, ls)) =>
      b -> ls.iterator
        .flatMap(_.split(',').iterator.map(_.split('=')(0).trim).filter(_.nonEmpty))
        .toSet
    }.filter(_._2.nonEmpty).toMap
    val codecs = agg.toSeq.sortBy(-_._1).iterator
      .flatMap(_._2._4.headOption).find(_ => true)
    val conf = spark.sparkContext.hadoopConfiguration
    Snapshot(batchIds, maxPart, codecs, batchColumns, perBatch, comps,
      codecs.map(EncodeJob.parseLineage).getOrElse(Map.empty))(
      () => EncodeJob.schemaFromDisk(conf, outDir), () => EncodeJob.sortColumnsFromDisk(conf, outDir))
  }

  /** One chunk file of a batch: its path, the scheme-less form that keys
    * the file-keep map, and its rows' metadata in file order
    * (`EncodedChunk`s without stream blobs). `column` is defined for a
    * legacy column-partitioned file only: its `column=` directory, which
    * names its rows' column.
    */
  private[graft] final class IndexedFile(val path: String, val column: Option[String],
                                         val chunks: Array[EncodedChunk]) {
    val key: String = normPath(path)
  }

  /** One chunk row's pruning view: its column, its stats (whose Bloom
    * filter is deserialised at most once per load) and its file's key.
    */
  private final case class StatRow(column: String, stats: ChunkStats, fileKey: String)

  /** One batch's chunk files, their footers read once, and its chunk
    * rows grouped per chunk (part_id, chunk_id) across columns and
    * column files.
    */
  private[graft] final class BatchIndex(val files: Seq[IndexedFile]) {
    private[TableMeta] val chunkRows: Iterable[Seq[StatRow]] =
      files.flatMap(f => f.chunks.iterator.map(c =>
        (c.part_id, c.chunk_id) -> StatRow(c.column, ChunkStats.of(c), f.key)))
        .groupMap(_._1)(_._2).values
    def rows: Iterator[EncodedChunk] = files.iterator.flatMap(_.chunks)
  }

  private val emptyBatch = new BatchIndex(Seq.empty)

  /** Per-table index: batch id -> (listing signature, index). The
    * signature is the batch dir's listing (name:len:mtime of each chunk
    * file, `column=` dirs included), re-listed and compared on EVERY
    * access, so an overwrite that reuses a batch id, a vacuum, or any
    * other external change reloads that batch; a committed batch's files
    * are otherwise immutable, so their footers are read once.
    */
  private val indexCache = new Lru[String, Map[Int, (String, BatchIndex)]](1024)

  /** Test instrumentation: batch index LOADS (footer reads of a batch). */
  private[graft] val indexLoads = new java.util.concurrent.atomic.AtomicLong(0)

  /** The index of each of `batches` (empty for a batch without a
    * `chunks/batch=N` dir). Driver-side: one listing of the chunk root
    * plus the listings of each batch dir, and a footer read of each chunk
    * file only when its batch's listing changed — never a Spark job. The
    * write path calls it on the batch it just wrote (its manifest rows
    * come from it), so a table's readers find the new batch loaded.
    */
  def batchIndex(spark: SparkSession, outDir: String, batches: Set[Int]): Map[Int, BatchIndex] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(EncodeJob.chunkDir(outDir))
    val fs = root.getFileSystem(conf)
    if (batches.isEmpty || !fs.exists(root)) return batches.iterator.map(_ -> emptyBatch).toMap
    val present = fs.listStatus(root).iterator.map(_.getPath.getName).collect {
      case n if n.startsWith("batch=") => n.stripPrefix("batch=").toInt
    }.toSet
    val prev = indexCache.get(outDir).getOrElse(Map.empty)
    // one bounded listing per requested batch dir (replaced/orphan
    // batches stay unvisited)
    val cur = (batches intersect present).iterator
      .map(b => b -> loadBatch(fs, conf, outDir, b, prev.get(b))).toMap
    indexCache.put(outDir, prev.filter { case (b, _) => present(b) } ++ cur)
    batches.iterator.map(b => b -> cur.get(b).fold(emptyBatch)(_._2)).toMap
  }

  private def loadBatch(fs: FileSystem, conf: Configuration, outDir: String, b: Int,
                        hit: Option[(String, BatchIndex)]): (String, BatchIndex) = {
    def listed(dir: Path) = fs.listStatus(dir).filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    val files = listed(new Path(EncodeJob.chunkBatchDir(outDir, b))).flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("column="))
        listed(st.getPath).filter(_.isFile).map(f => f -> Option(name.stripPrefix("column=")))
      else if (st.isFile) Array(st -> Option.empty[String])
      else Array.empty[(FileStatus, Option[String])]
    }.filter(f => ChunkFile.isChunkFileName(f._1.getPath.getName)).sortBy(_._1.getPath.toString)
    val sig = files.map { case (st, c) =>
      s"${c.getOrElse("")}/${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
    }.mkString(",")
    hit match {
      case Some(h) if h._1 == sig => h
      case _ =>
        indexLoads.incrementAndGet()
        (sig, new BatchIndex(files.toSeq.map { case (st, c) =>
          new IndexedFile(st.getPath.toString, c,
            ChunkFile.chunks(st.getPath, conf, st.getLen, c.orNull))
        }))
    }
  }

  /** Scheme-less path: the key the scan's file-keep lookup matches on,
    * whether a path carries its scheme or not.
    */
  private[graft] def normPath(p: String): String = new Path(p).toUri.getPath

  /** A chunk is kept iff every predicate keeps its row for the
    * predicate's column; a chunk with no row for that column (written
    * before the column existed) keeps.
    */
  private def chunkKept(rows: Seq[StatRow], preds: Seq[ChunkPrune]): Boolean =
    preds.forall(p => rows.forall(r => r.column != p.column || p.keepsChunk(r.stats)))

  /** PLAN-time file keep, evaluated on the driver against the index with
    * the row-side `ChunkPrune.keepsChunk`: scheme-less chunk file -> kept
    * iff any of its chunks is kept. Chunk keep is decided per (batch,
    * part_id, chunk_id) across columns, so on the column-partitioned
    * layout the sibling column files of a pruned chunk are pruned too.
    */
  def fileKeep(index: Map[Int, BatchIndex], preds: Seq[ChunkPrune]): Map[String, Boolean] = {
    val keep = scala.collection.mutable.Map[String, Boolean]()
    index.valuesIterator.foreach { bi =>
      bi.chunkRows.foreach { rows =>
        val k = chunkKept(rows, preds)
        rows.foreach(r => keep(r.fileKey) = k || keep.getOrElse(r.fileKey, false))
      }
    }
    keep.toMap
  }

  /** Rows of the chunks `fileKeep` keeps, per batch: at most what a row
    * scan with `preds` decodes.
    */
  def keptRows(index: Map[Int, BatchIndex], preds: Seq[ChunkPrune]): Map[Int, Long] =
    index.map { case (b, bi) =>
      b -> bi.chunkRows.iterator.filter(chunkKept(_, preds))
        .map(_.iterator.map(_.stats.row_count.toLong).max).sum
    }

  /** Batches of `committed` that can hold a row matching every predicate
    * — the DML pruning decision, from the same index and keep logic as
    * `fileKeep`. A batch without chunk rows counts as matching.
    */
  def batchesPossiblyMatching(spark: SparkSession, outDir: String, committed: Set[Int],
                              preds: Seq[ChunkPrune]): Set[Int] = {
    if (preds.isEmpty) return committed
    val idx = batchIndex(spark, outDir, committed)
    committed.filter(b => idx(b).chunkRows.isEmpty || idx(b).chunkRows.exists(chunkKept(_, preds)))
  }

  /** True when every batch of `batches` is in a layout the scan reads: it
    * has chunk files, and in each file every chunk group is `nCols`
    * adjacent rows that never reappear (`runsOk`). A legacy column file
    * is a row-grouped file of one column, so its groups are one row each;
    * the scan's zip checks its alignment with its sibling files. A batch
    * whose dir lists no chunk file was rewritten into another layout.
    * Decides between the scan and the shuffled decode.
    */
  def writerLayout(spark: SparkSession, outDir: String, batches: Set[Int], nCols: Int): Boolean =
    batchIndex(spark, outDir, batches).valuesIterator.forall(bi =>
      bi.files.nonEmpty && bi.files.forall(f =>
        runsOk(Seq(f.chunks), if (f.column.isDefined) 1 else nCols)))

  /** Per file, in file order: each (part_id, chunk_id) is one run of
    * exactly `nCols` rows, and no key appears in two runs (split or
    * interleaved groups). An empty file passes.
    */
  private[graft] def runsOk(files: Seq[Array[EncodedChunk]], nCols: Int): Boolean =
    files.forall { chunks =>
      val seen = scala.collection.mutable.HashSet[Long]()
      var curKey = Long.MinValue
      var run = 0
      chunks.forall { c =>
        val key = (c.part_id.toLong << 32) | (c.chunk_id.toLong & 0xffffffffL)
        if (key == curKey) { run += 1; true }
        else {
          val ok = (run == 0 || run == nCols) && seen.add(key)
          curKey = key; run = 1
          ok
        }
      } && (run == 0 || run == nCols)
    }

  /** Drop every cached entry (tests; external tampering recovery). */
  def invalidateAll(): Unit = { cache.clear(); indexCache.clear() }

  /** A map bounded at `capacity` entries that evicts the least recently
    * used one.
    */
  private[graft] final class Lru[K, V](capacity: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, /* accessOrder */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > capacity
    }
    def get(k: K): Option[V] = synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = synchronized { m.put(k, v); () }
    def remove(k: K): Unit = synchronized { m.remove(k); () }
    def clear(): Unit = synchronized(m.clear())
  }
}
