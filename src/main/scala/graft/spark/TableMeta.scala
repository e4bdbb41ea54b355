package graft.spark

import graft.spark.source.{ChunkPrune, ChunkStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-side table metadata, cached per JVM and validated against the
  * filesystem on EVERY access (guide §6: table formats win at scale by
  * reading manifests instead of re-listing/re-scanning, and Spark itself
  * caches file listings per session). Two caches, both metadata only —
  * never row data, never query results — and both bounded LRU maps of
  * 1024 tables:
  *
  *  - the SNAPSHOT (visibility, per-batch stats, codec lineage, column
  *    sets). Its validity is a signature of the manifest + compactions
  *    dirs (one `listStatus` each): every commit appends a manifest file
  *    and every compaction adds a record file, so any writer — same JVM
  *    or not — invalidates the entry. A miss parses the JSON commit files
  *    on the driver; no Spark job.
  *  - the SIDECAR INDEX: the filestats sidecar rows of each committed
  *    batch (per chunk and column: min/max, null/row/NaN counts, Bloom
  *    filter, chunk file), read on the driver once per committed batch and
  *    revalidated per batch dir listing. Plan-time pruning — scan file
  *    keep, DML batch keep, the scan's chunk-file list — is evaluated
  *    against it on the driver, so planning a query over a warm table
  *    launches no Spark job.
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
      compactions: Seq[EncodeJob.Compaction])

  private val cache = new Lru[String, (String, Snapshot)](1024)

  private def signature(spark: SparkSession, outDir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    def sig(dir: String): String = {
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) "-"
      else fs.listStatus(p).iterator
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .toArray.sorted.mkString(",")
    }
    sig(EncodeJob.manifestDir(outDir)) + "|" + sig(EncodeJob.compactionsDir(outDir))
  }

  /** Test instrumentation: snapshot LOADS (cache misses). */
  private[graft] val snapshotLoads = new java.util.concurrent.atomic.AtomicLong(0)

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
    Snapshot(batchIds, maxPart, codecs, batchColumns, perBatch, comps)
  }

  /** One filestats sidecar row: a chunk's stats for one column and the
    * chunk file that holds it (`fileKey` is its scheme-less form, the
    * match key of the file-keep map).
    */
  private[graft] final case class SidecarEntry(part_id: Int, chunk_id: Int, column: String,
                                               stats: ChunkStats, file: String, fileKey: String)

  /** One committed batch's sidecar, parsed once: its parquet files, its
    * rows per chunk (part_id, chunk_id) and its distinct chunk files.
    */
  private[graft] final class BatchIndex(val sidecarFiles: Seq[String],
                                        entries: Seq[SidecarEntry]) {
    val chunks: Map[(Int, Int), Seq[SidecarEntry]] =
      entries.groupBy(e => (e.part_id, e.chunk_id))
    val files: Seq[String] = entries.map(_.file).distinct.sorted
  }

  /** Per-table sidecar index: batch id -> (listing signature, index).
    * The signature is the batch dir's sidecar listing (name:len:mtime),
    * re-listed and compared on EVERY access, so an overwrite that reuses
    * a batch id, a vacuum, or any other external change reloads that
    * batch; a committed batch's sidecar is otherwise immutable, so it is
    * read once.
    */
  private val indexCache = new Lru[String, Map[Int, (String, BatchIndex)]](1024)

  /** Test instrumentation: sidecar batch LOADS (index misses). */
  private[graft] val indexLoads = new java.util.concurrent.atomic.AtomicLong(0)

  /** The sidecar index of those `committed` batches that carry a sidecar
    * (batches written before it are absent from the result). Driver-side:
    * one listing of the sidecar root plus one per committed batch dir,
    * and a parquet-mr read of a batch's sidecar files only when that
    * batch's listing changed — never a Spark job.
    */
  private def index(spark: SparkSession, outDir: String, committed: Set[Int])
      : Map[Int, BatchIndex] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(EncodeJob.filestatsDir(outDir))
    val fs = dir.getFileSystem(conf)
    if (committed.isEmpty || !fs.exists(dir)) return Map.empty
    // O(batches) presence probe, not a tree walk
    val present = fs.listStatus(dir).iterator.map(_.getPath.getName).collect {
      case n if n.startsWith("batch=") => n.stripPrefix("batch=").toInt
    }.toSet
    val prev = indexCache.get(outDir).getOrElse(Map.empty)
    // one bounded listing per COMMITTED batch dir (replaced/orphan
    // batches stay unvisited)
    val cur = (committed intersect present).iterator.map { b =>
      val files = fs.listStatus(new Path(EncodeJob.filestatsBatchDir(outDir, b)))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
      val sig = files.map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}").mkString(",")
      b -> (prev.get(b) match {
        case Some(hit) if hit._1 == sig => hit
        case _ =>
          indexLoads.incrementAndGet()
          (sig, new BatchIndex(files.map(_.getPath.toString).toSeq,
            files.toSeq.flatMap(f => readSidecarFile(conf, f.getPath))))
      })
    }.toMap
    indexCache.put(outDir, prev.filter { case (b, _) => present(b) } ++ cur)
    cur.map { case (b, (_, bi)) => b -> bi }
  }

  /** A sidecar parquet file's rows, read on the driver with parquet-mr.
    * `nan_count` may be absent (batches written before it): that reads
    * as None, the conservative keep.
    */
  private def readSidecarFile(conf: org.apache.hadoop.conf.Configuration, path: Path)
      : Seq[SidecarEntry] = {
    val reader = HadoopFiles.groupReader(path, conf).build()
    val out = scala.collection.mutable.ArrayBuffer[SidecarEntry]()
    try {
      var g = reader.read()
      while (g != null) {
        def has(n: String) = g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0
        def str(n: String) = if (has(n)) Some(g.getString(n, 0)) else None
        val file = g.getString("file", 0)
        out += SidecarEntry(g.getInteger("part_id", 0), g.getInteger("chunk_id", 0),
          g.getString("column", 0),
          new ChunkStats(str("min_val"), str("max_val"),
            g.getInteger("null_count", 0), g.getInteger("row_count", 0),
            if (has("nan_count")) Some(g.getInteger("nan_count", 0)) else None,
            if (has("bloom")) Some(g.getBinary("bloom", 0).getBytes) else None),
          file, normPath(file))
        g = reader.read()
      }
    } finally reader.close()
    out.toSeq
  }

  /** Scheme-less path: sidecars written before the full-URI fix stored
    * stripped paths, newer ones keep the scheme — normalizing both the
    * map keys and the probe makes them compare equal.
    */
  private[graft] def normPath(p: String): String = new Path(p).toUri.getPath

  /** Chunk-file list for `committed` from the sidecar index — None when
    * any committed batch predates the sidecar (callers fall back to the
    * legacy chunk-tree walk).
    */
  def sidecarChunkFiles(spark: SparkSession, outDir: String, committed: Set[Int])
      : Option[Seq[(Int, Option[String], String)]] = {
    val idx = index(spark, outDir, committed)
    if (idx.size < committed.size) None
    else Some(idx.toSeq.sortBy(_._1).flatMap { case (b, bi) =>
      bi.files.map(f => (b, """column=([^/]+)/""".r.findFirstMatchIn(f).map(_.group(1)), f))
    })
  }

  /** The committed batches' sidecar parquet files — empty when any
    * committed batch predates the sidecar (a mix would under-count).
    */
  def sidecarFiles(spark: SparkSession, outDir: String, committed: Set[Int]): Seq[String] = {
    val idx = index(spark, outDir, committed)
    if (idx.size < committed.size) Seq.empty
    else idx.valuesIterator.flatMap(_.sidecarFiles).toSeq.sorted
  }

  /** A chunk is kept iff every predicate keeps its sidecar row for the
    * predicate's column; a chunk with no row for that column (written
    * before the column existed) keeps.
    */
  private def chunkKept(rows: Seq[SidecarEntry], preds: Seq[ChunkPrune]): Boolean =
    preds.forall(p => rows.forall(r => r.column != p.column || p.keepsChunk(r.stats)))

  /** PLAN-time file keep, evaluated on the driver against the sidecar
    * index with the row-side `ChunkPrune.keepsChunk`: scheme-less chunk
    * file -> kept iff any of its chunks is kept. Chunk keep is decided per
    * (batch, part_id, chunk_id) across columns, so on the
    * column-partitioned layout the sibling column files of a pruned chunk
    * are pruned too. Files of batches without a sidecar are absent (the
    * caller keeps them).
    */
  def fileKeep(spark: SparkSession, outDir: String, committed: Set[Int],
               preds: Seq[ChunkPrune]): Map[String, Boolean] = {
    val keep = scala.collection.mutable.Map[String, Boolean]()
    index(spark, outDir, committed).valuesIterator.foreach { bi =>
      bi.chunks.valuesIterator.foreach { rows =>
        val k = chunkKept(rows, preds)
        rows.foreach(r => keep(r.fileKey) = k || keep.getOrElse(r.fileKey, false))
      }
    }
    keep.toMap
  }

  /** Rows of the chunks `fileKeep` keeps, per committed batch: at most
    * what a row scan with `preds` decodes. None when any committed batch
    * predates the sidecar.
    */
  def keptRows(spark: SparkSession, outDir: String, committed: Set[Int],
               preds: Seq[ChunkPrune]): Option[Map[Int, Long]] = {
    val idx = index(spark, outDir, committed)
    if (idx.size < committed.size) None
    else Some(idx.map { case (b, bi) =>
      b -> bi.chunks.valuesIterator.filter(chunkKept(_, preds))
        .map(_.iterator.map(_.stats.row_count.toLong).max).sum
    })
  }

  /** Batches of `committed` that can hold a row matching every predicate
    * — the DML pruning decision, from the same index and keep logic as
    * `fileKeep`. Batches without a sidecar, or whose sidecar has no rows,
    * count as matching.
    */
  def batchesPossiblyMatching(spark: SparkSession, outDir: String, committed: Set[Int],
                              preds: Seq[ChunkPrune]): Set[Int] = {
    if (preds.isEmpty) return committed
    val idx = index(spark, outDir, committed)
    committed.filter(b => idx.get(b).forall(bi =>
      bi.chunks.isEmpty || bi.chunks.valuesIterator.exists(chunkKept(_, preds))))
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
    def clear(): Unit = synchronized(m.clear())
  }
}
