package graft.spark

import graft.columns.CodecSelector
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType}

/** The distributed encode pipeline:
  *
  *   sample → pin codec decisions → partition with skew salting →
  *   mapPartitions encode (TableEncoder) → chunk parquet + manifest commit,
  *   optionally in batches so a killed run resumes from the last committed
  *   batch.
  *
  * Scale design notes (targets a 1000-executor / 100 TB run; tested on
  * local[32]):
  *  - the sampling pass reads only string columns (column pruning reaches
  *    the parquet scan) with a row cap;
  *  - codec decisions are pinned BEFORE fan-out — the reference decides
  *    per-writer on the first block (/root/reference/src/ApacheOrcDotNet/
  *    ColumnTypes/StringWriter.cs:83-96), which is order-sensitive and so
  *    non-deterministic under partitioning; pinning keeps every partition
  *    encoding identically, and the decision is recorded in the manifest
  *    so a resumed run reuses it instead of re-sampling;
  *  - partitioning is an explicit repartition on (key, salt): values of
  *    the skew key (lang is Zipfian in web data) get ceil(freq ×
  *    parallelism) salt buckets each, so one hot key cannot stall the job;
  *  - per-partition encode memory is bounded by chunkTargetBytes
  *    regardless of partition size — the reference's 64 MiB stripe bound
  *    generalized;
  *  - commitBatches > 1 trades extra input scans for finer resume
  *    granularity (each batch re-shuffles only its share at read time but
  *    rescans input); the default 1 gives one pass + one atomic commit,
  *    which is right when Spark task retries are the failure domain.
  */
object EncodeJob {

  /** Stream-blob compression of new tables (DSv2 writer, catalog, DML on
    * new tables, StreamingEncode). zstd over the zlib parity mode: on
    * WebGen pages its tables encode ~1.7× and decode ~1.8× faster and are
    * slightly smaller, and zlib inflate was the scan's largest task cost.
    * Rewrites inherit the kind of the batches they replace instead.
    */
  final val DefaultCompression: String = graft.core.BlockCompression.Zstd

  final case class Config(
      outDir: String,
      // encode fan-out AND the output file count (one file per encode
      // task). Size it ~3× the widest expected READ parallelism too: the
      // scan runs one read task per file, and reader-threads ==
      // files means a single straggler-bound wave (measured as a 32-thread
      // decode running SLOWER than 8 threads; DecodeScale probe).
      numPartitions: Int,
      keyColumn: Option[String], // skew/salt key, e.g. "lang"
      sampleRows: Int = 20000,
      strideRows: Int = TableEncoder.DefaultStrideRows,
      chunkTargetBytes: Long = TableEncoder.DefaultChunkTargetBytes,
      commitBatches: Int = 1,
      // per-row column the salt is hashed from (must be stable across
      // runs for resume determinism); None → first string column ≠ key,
      // else the whole row
      saltColumn: Option[String] = None,
      // fraction of the key column sampled for the skew histogram; the
      // relative frequencies are all that matter, so 0.1% is plenty at
      // web scale. Tiny inputs (sampled rows < SaltSampleFloor) fall
      // back to an exact narrow scan.
      saltSampleFraction: Double = 0.001,
      // sort rows WITHIN each encode partition before chunking. Clustered
      // chunks get near-disjoint min/max ranges (pruning selectivity) and
      // longer runs/denser dictionaries (compression); the DSv2 scan
      // reports the resulting per-partition order to Catalyst via
      // SupportsReportOrdering when every visible batch holds the claim
      sortColumns: Seq[String] = Nil,
      // Z-order (Morton) clustering over 2-6 columns: rows sort within
      // each partition by an interleaved-bits key, so chunk min/max
      // ranges become selective for predicates on ANY of the columns
      // (a lexicographic sortColumns only serves its leading column).
      // Clustering only — no ordering claim is ever advertised for it.
      // Mutually exclusive with sortColumns.
      zorderColumns: Seq[String] = Nil,
      // pre-computed Z-order rescale bounds (key-bit [lo, hi] per
      // zorderColumn): set by compact/rewrite from the chunk manifest's
      // min/max stats so the bounds pass is metadata-only instead of a
      // second decode of the input. None = sample the input.
      zorderBoundsHint: Option[Seq[(Long, Long)]] = None,
      // the reference's EncodingStrategy knob (WriterConfiguration.cs:49):
      // aligned=true restricts RLEv2 DIRECT/PATCHED widths to the
      // CPU-friendly table (Speed), trading a little size for decode speed
      alignedEncoding: Boolean = false,
      // stream-blob compression kind (graft.core.BlockCompression): zstd
      // (the default, DefaultCompression), zlib (the reference-parity
      // mode), lz4, none
      compression: String = DefaultCompression,
      // stride-segmented stream blobs (TableEncoder.encode segmented=true):
      // per-stride independently-compressed segments so pruned strides are
      // never decompressed or value-decoded on read. The production
      // default; off reproduces the whole-stream (reference-shaped) blobs.
      segmented: Boolean = true,
      // chunk-level Bloom filters on these columns (graft.core.Bloom):
      // equality pruning for point lookups on unsorted high-cardinality
      // columns (url/text) where min/max ranges keep every chunk
      bloomColumns: Set[String] = Set.empty,
      // Hive-partition the chunk table by `column` so a column-subset read
      // prunes unrequested columns' files at the SCAN (IO ∝ requested
      // columns). Trade-off: one file per task PER COLUMN, which full
      // reads zip back into chunk groups — pick per table by read pattern
      // (wide tables read by narrow projections want this on).
      partitionByColumn: Boolean = false)

  /** Below this many sampled rows the frequency estimate is noise —
    * rescan the (narrow) key column exactly instead.
    */
  final val SaltSampleFloor = 5000L

  final case class Result(specs: Array[ColumnSpec], chunkDir: String, manifestDir: String,
                          batchesEncoded: Int, batchesSkipped: Int)

  def chunkDir(outDir: String) = s"$outDir/chunks"
  def manifestDir(outDir: String) = s"$outDir/manifest"
  def schemaPath(outDir: String) = s"$outDir/schema.json"

  /** Persist the logical schema next to the manifest — the FileTail's
    * schema-in-footer role (/root/reference/src/ApacheOrcDotNet/
    * FileTail.cs:22-54): a reader holding only the output directory can
    * reconstruct both the Spark types AND (with the manifest's codec
    * lineage) the full column specs, no caller-supplied schema needed.
    * Idempotent overwrite; written before the manifest commit so any
    * committed batch always has a readable schema.
    */
  private[spark] def writeSchemaJson(spark: SparkSession, outDir: String,
                              schema: org.apache.spark.sql.types.StructType): Unit = {
    val path = new org.apache.hadoop.fs.Path(schemaPath(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // nullability only ever WIDENS: a table created nullable (CREATE
    // TABLE DDL) must stay nullable when the first INSERT happens to
    // carry non-null expressions — otherwise later NULL inserts trip
    // Spark's not-null assertion against the tightened schema
    val effective = schemaFromDisk(spark, outDir) match {
      case Some(existing)
          if existing.fields.length == schema.fields.length &&
            existing.fields.zip(schema.fields).forall { case (a, b) =>
              a.name == b.name && a.dataType == b.dataType } =>
        org.apache.spark.sql.types.StructType(
          existing.fields.zip(schema.fields).map { case (a, b) =>
            b.copy(nullable = a.nullable || b.nullable) })
      case _ => schema
    }
    val out = fs.create(path, /* overwrite = */ true)
    try out.write(effective.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def layoutPath(outDir: String) = s"$outDir/layout.json"

  /** The dir-wide sort claim: non-empty iff EVERY visible batch was
    * written with `sortColumns` = exactly these columns (the write path
    * maintains the invariant — an append under a different sort resets
    * the claim to empty rather than lie). The DSv2 scan turns a live
    * claim into a SupportsReportOrdering answer.
    */
  def sortColumnsFromDisk(spark: SparkSession, outDir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(layoutPath(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Nil
    val in = fs.open(path)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    """"sortColumns"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(text)
      .map(_.group(1).split(',').map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
  }

  private def writeLayoutJson(spark: SparkSession, outDir: String, sortColumns: Seq[String]): Unit = {
    val path = new org.apache.hadoop.fs.Path(layoutPath(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, /* overwrite = */ true)
    try out.write(
      s"""{"sortColumns":[${sortColumns.map(c => s""""$c"""").mkString(",")}]}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Maintain the sort claim for a write of `sortColumns` into a dir
    * whose prior batches were written under `existing` (Nil for a fresh
    * dir). The claim survives only when every batch agrees; any mismatch
    * (including appending sorted data onto unsorted batches) degrades it
    * to empty — conservative in every crash window, since a dropped claim
    * only costs Catalyst an ordering fact, never correctness.
    */
  private def maintainSortClaim(spark: SparkSession, outDir: String, cfg: Config,
                                hadBatches: Boolean): Unit = {
    val existing = sortColumnsFromDisk(spark, outDir)
    // names the hand-rolled JSON can't round-trip (quotes/commas/brackets)
    // never become a claim — the data is still sorted and prunes, the dir
    // just doesn't advertise an ordering Catalyst could mis-trust
    val claimable = cfg.sortColumns.forall(_.matches("""[\w.\- ]+"""))
    val requested = if (claimable) cfg.sortColumns else Nil
    val claim =
      if (!hadBatches) requested
      else if (existing == requested) existing
      else Nil
    if (claim.nonEmpty || existing.nonEmpty) writeLayoutJson(spark, outDir, claim)
  }

  /** The persisted logical schema, when this outDir was written by a
    * round-4+ engine. None for older dirs (callers supply the schema).
    */
  def schemaFromDisk(spark: SparkSession, outDir: String): Option[org.apache.spark.sql.types.StructType] = {
    val path = new org.apache.hadoop.fs.Path(schemaPath(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Specs for a reader that has ONLY the output directory: persisted
    * schema + manifest codec lineage. None when the dir predates schema
    * persistence — use specsFromManifest with a caller-supplied schema.
    */
  def specsFromDisk(spark: SparkSession, outDir: String): Option[Array[ColumnSpec]] =
    schemaFromDisk(spark, outDir).map(specsFromManifest(spark, outDir, _))

  /** Read back with everything recovered from disk (schema.json +
    * manifest lineage) — the no-arguments-but-the-path reader surface.
    */
  def readBack(spark: SparkSession, outDir: String): DataFrame =
    readBack(spark, outDir, specsFromDisk(spark, outDir).getOrElse(
      throw new IllegalArgumentException(
        s"no ${schemaPath(outDir)} — dir written by an older engine; " +
          "pass specs via readBack(spark, outDir, specs)")))

  /** Batch-scoped chunk directory (Hive-style `batch=<id>` so reads see
    * it as a partition column). A batch's chunks are written here with
    * Overwrite BEFORE its manifest rows land — the manifest is the commit
    * point, and a crash between the two leaves an orphan dir that the
    * resumed run simply overwrites (no duplicate (part_id, chunk_id)
    * rows, ever) and readers never see (read-back filters to committed
    * batch ids, which prunes orphan dirs at the scan).
    */
  def chunkBatchDir(outDir: String, batchId: Int) = s"${chunkDir(outDir)}/batch=$batchId"
  def filestatsDir(outDir: String) = s"$outDir/filestats"
  def filestatsBatchDir(outDir: String, batchId: Int) = s"${filestatsDir(outDir)}/batch=$batchId"

  /** File-level pruning sidecar: per (chunk, column) stats PLUS the chunk
    * FILE that holds it — written from the batch's chunk parquet metadata
    * columns only (the heavy `streams` stay unread). The DataSource V2
    * scan consults it at plan time so selective filters and join-driven
    * runtime filters skip whole files without ever opening them — the
    * partition-pruning story for a layout whose "partitions" are chunk
    * files. Written before the manifest commit so a committed batch always
    * has its sidecar; absent sidecars (older dirs) just mean no file-level
    * pruning, chunk-level pruning still applies after open.
    */
  private def writeFileStats(spark: SparkSession, outDir: String, batchId: Int): Unit = {
    writeFileStatsAndSummary(spark, outDir, batchId)
    ()
  }

  /** One metadata read of the batch just written serves BOTH artifacts
    * that used to cost a scan each: the filestats sidecar (written) and
    * the per-part manifest summary (returned) — the parquet projection
    * keeps the heavy `streams` column unread either way, and the tiny
    * projected frame is persisted across the two consumers.
    */
  private def writeFileStatsAndSummary(spark: SparkSession, outDir: String,
                                       batchId: Int): Array[org.apache.spark.sql.Row] = {
    // canonicalize through Path but KEEP scheme and authority: the
    // sidecar's `file` entries are the paths metadata-planned scans OPEN,
    // so on a non-default filesystem (s3a://, hdfs://) a scheme-stripped
    // path would resolve against the wrong FS. Scheme-LESS normalization
    // is applied only where entries serve as match keys (fileKeep).
    val normalize = udf((s: String) => new org.apache.hadoop.fs.Path(s).toString)
    val meta = spark.read.schema(chunkFileSchema).parquet(chunkBatchDir(outDir, batchId))
      .select(col("part_id"), col("chunk_id"), col("column"),
        col("min_val"), col("max_val"), col("null_count"), col("row_count"),
        col("nan_count"), col("bloom"), normalize(input_file_name()).as("file"),
        col("raw_bytes"), col("encoded_bytes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      meta.drop("raw_bytes", "encoded_bytes")
        .write.mode(SaveMode.Overwrite).parquet(filestatsBatchDir(outDir, batchId))
      writeFileMeta(spark, outDir, batchId)
      meta.groupBy(col("part_id"))
        .agg(count(lit(1)).as("chunks"), sum(col("row_count")).as("rows"),
          sum(col("raw_bytes")).as("raw"), sum(col("encoded_bytes")).as("enc"))
        .collect()
    } finally { meta.unpersist(false); () }
  }

  /** Per-batch file metadata (`_filemeta.json` inside the batch's sidecar
    * dir — the underscore keeps parquet readers away): currently the max
    * chunk-file size, recorded at WRITE time (one bounded listing of the
    * batch just written, while its entries are hot) so later readers can
    * pin file-split confs without ever walking the chunk tree. At 100 TB
    * scan planning must be O(metadata), not O(files) driver RPC.
    */
  private def writeFileMeta(spark: SparkSession, outDir: String, batchId: Int): Unit = {
    val dir = new org.apache.hadoop.fs.Path(chunkBatchDir(outDir, batchId))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var largest = 0L
    if (fs.exists(dir)) {
      val it = fs.listFiles(dir, /* recursive into column= dirs */ true)
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && !s.getPath.getName.startsWith("_"))
          largest = math.max(largest, s.getLen)
      }
    }
    val p = new org.apache.hadoop.fs.Path(filestatsBatchDir(outDir, batchId), "_filemeta.json")
    val os = fs.create(p, /* overwrite */ true)
    try os.write(s"""{"max_file_bytes":$largest}""".getBytes("UTF-8")) finally os.close()
  }

  /** Max chunk-file size across all batches that recorded a
    * `_filemeta.json` — None when any batch dir predates the metadata
    * (caller falls back to the legacy walk). Over-approximating is safe:
    * the split bound only needs to be ≥ every VISIBLE file, and replaced-
    * but-unvacuumed batches can only raise it.
    */
  private def maxFileBytesFromMeta(spark: SparkSession, outDir: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val chunkRoot = new org.apache.hadoop.fs.Path(chunkDir(outDir))
    val fs = chunkRoot.getFileSystem(conf)
    if (!fs.exists(chunkRoot)) return Some(1L)
    val entries = fs.listStatus(chunkRoot)
    // anything that isn't a batch= dir (flat legacy/externally-rewritten
    // layouts, stray files) means the metadata doesn't cover the dir —
    // returning a too-SMALL bound here would make Spark split every file
    // into bound-sized slivers (a 1-byte bound = millions of tasks)
    if (!entries.forall(e => e.isDirectory && e.getPath.getName.startsWith("batch=")))
      return None
    val batches = entries.iterator.map(_.getPath.getName.stripPrefix("batch=").toInt).toSeq
    if (batches.isEmpty) return None
    var largest = 1L
    batches.foreach { b =>
      val p = new org.apache.hadoop.fs.Path(filestatsBatchDir(outDir, b), "_filemeta.json")
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      raw""""max_file_bytes"\s*:\s*(\d+)""".r.findFirstMatchIn(text) match {
        case Some(m) => largest = math.max(largest, m.group(1).toLong)
        case None    => return None
      }
    }
    Some(largest)
  }

  /** Count of legacy chunk-TREE walks (recursive driver-side listings of
    * the chunk dir at PLAN time) — instrumentation for the tests that
    * prove metadata-planned scans never list the data tree.
    */
  val chunkTreeWalks = new java.util.concurrent.atomic.AtomicLong(0)

  /** Batch ids whose manifest rows are committed, with compaction records
    * applied — the only batches a BATCH reader may decode. A compaction
    * record atomically swaps its `replaces` set for its own batch id, so
    * a reader sees each row exactly once at every instant: before the
    * record lands the old batches are served, after it only the compacted
    * one. Empty when no manifest exists yet.
    */
  def committedBatches(spark: SparkSession, outDir: String): Set[Int] =
    applyCompactions(manifestBatches(spark, outDir), compactions(spark, outDir))

  /** Time travel: the batch set as of the moment `asOf` committed. Batch
    * ids commit in increasing order on every write path, so "manifest ids
    * ≤ asOf, compaction records with batch ≤ asOf applied" reconstructs
    * exactly what a reader saw then — valid until `vacuum` physically
    * removes replaced batches.
    */
  def committedBatchesAsOf(spark: SparkSession, outDir: String, asOf: Int): Set[Int] =
    applyCompactions(
      manifestBatches(spark, outDir).filter(_ <= asOf),
      compactions(spark, outDir).filter(_.batch <= asOf))

  /** Batch ids a STREAMING reader consumes: the original append batches,
    * never compaction batches — a compacted batch holds only rows some
    * earlier micro-batch already delivered, so surfacing it would
    * double-read every row. Replaced batches stay streamable (their files
    * survive until vacuum).
    */
  def streamBatches(spark: SparkSession, outDir: String): Set[Int] =
    manifestBatches(spark, outDir) -- compactions(spark, outDir).map(_.batch)

  private def manifestBatches(spark: SparkSession, outDir: String): Set[Int] =
    TableMeta.snapshot(spark, outDir).batchIds

  private def applyCompactions(base: Set[Int], records: Seq[Compaction]): Set[Int] =
    records.foldLeft(base)((acc, c) => acc -- c.replaces + c.batch) --
      // a compaction replaced by a LATER compaction must not resurface
      records.flatMap(_.replaces)

  /** One committed compaction: chunks of `replaces` rewritten as batch
    * `batch`. `maxPart` is the highest part_id the compacted batch holds,
    * recorded so batch-id/part-id allocation can clear it even in the
    * crash window before the compacted batch's manifest rows land;
    * `rows`/`rawBytes` let estimateStatistics serve truthful numbers in
    * that same window (a table must never look empty to the broadcast
    * planner just because its metrics rows lag the record).
    */
  final case class Compaction(batch: Int, replaces: Seq[Int], maxPart: Int,
                              rows: Long = 0L, rawBytes: Long = 0L)

  def compactionsDir(outDir: String) = s"$outDir/compactions"

  /** Committed compaction records, oldest first — snapshot-cached (the
    * signature covers the compactions dir, so a new record invalidates).
    */
  def compactions(spark: SparkSession, outDir: String): Seq[Compaction] =
    TableMeta.snapshot(spark, outDir).compactions

  /** Uncached read of the records — tiny driver-side JSON reads, one per
    * compact() call over the dir's lifetime. TableMeta.load's source.
    */
  private[spark] def readCompactionRecords(spark: SparkSession, outDir: String): Seq[Compaction] = {
    val dir = new org.apache.hadoop.fs.Path(compactionsDir(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer[Compaction]()
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (name.endsWith(".json") && !name.startsWith(".")) {
        val in = fs.open(st.getPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        def num(key: String): Option[Long] =
          raw""""$key"\s*:\s*(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
        val batch = num("batch").map(_.toInt)
        val replaces = """"replaces"\s*:\s*\[([\d,\s]*)\]""".r.findFirstMatchIn(text)
          .map(_.group(1).split(',').map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
        for (b <- batch; r <- replaces) out += Compaction(b, r,
          num("max_part").map(_.toInt).getOrElse(-1),
          num("rows").getOrElse(0L), num("raw_bytes").getOrElse(0L))
      }
    }
    out.sortBy(_.batch).toSeq
  }

  /** Driver-side manifest commit (the Delta-style move): one JSON commit
    * file per batch, written tmp + atomic rename — a metadata append is
    * driver IO, not a Spark job. At 100 TB a commit is one file of
    * numPartitions entries (what Delta/Iceberg write per commit), vs. a
    * full executor round-trip for a KB of metadata before.
    */
  private[graft] def writeManifestEntries(spark: SparkSession, outDir: String,
                                          entries: Seq[ManifestEntry]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val arr = root.putArray("entries")
    entries.foreach { e =>
      val o = arr.addObject()
      o.put("part_id", e.part_id); o.put("batch_id", e.batch_id)
      o.put("chunk_count", e.chunk_count); o.put("row_count", e.row_count)
      o.put("raw_bytes", e.raw_bytes); o.put("encoded_bytes", e.encoded_bytes)
      o.put("wall_ms", e.wall_ms); o.put("codecs", e.codecs)
    }
    val dir = new org.apache.hadoop.fs.Path(manifestDir(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val batch = entries.headOption.map(_.batch_id).getOrElse(0)
    val name = f"commit-$batch%05d-${java.util.UUID.randomUUID()}.json"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val dst = new org.apache.hadoop.fs.Path(dir, name)
    val os = fs.create(tmp, /* overwrite */ true)
    try os.write(mapper.writeValueAsBytes(root)) finally os.close()
    require(fs.rename(tmp, dst), s"could not commit manifest $dst")
  }

  /** Every manifest entry, parsed on the driver from the JSON commit
    * files. A manifest dir holding parquet files was written by an engine
    * that predates JSON commits; it fails here, before any read or write
    * touches the table.
    */
  def manifestEntries(spark: SparkSession, outDir: String): Seq[ManifestEntry] = {
    val dir = new org.apache.hadoop.fs.Path(manifestDir(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val statuses = fs.listStatus(dir)
    require(!statuses.exists(_.getPath.getName.endsWith(".parquet")),
      s"$dir holds a pre-JSON manifest (parquet files), which this engine no longer " +
        "reads — rewrite the table with an engine of this version")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    statuses.iterator.filter { s =>
      val n = s.getPath.getName
      n.endsWith(".json") && !n.startsWith(".")
    }.flatMap { s =>
      val in = fs.open(s.getPath)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      val root = mapper.readTree(bytes)
      val arr = root.get("entries")
      if (arr == null || !arr.isArray) Iterator.empty
      else scala.jdk.CollectionConverters.IteratorHasAsScala(arr.elements()).asScala.map { o =>
        ManifestEntry(o.get("part_id").asInt(), o.get("batch_id").asInt(),
          o.get("chunk_count").asInt(), o.get("row_count").asLong(),
          o.get("raw_bytes").asLong(), o.get("encoded_bytes").asLong(),
          o.get("wall_ms").asLong(), o.get("codecs").asText())
      }
    }.toSeq
  }

  /** The commit point of compact(): create-temp + rename, atomic on the
    * filesystems Spark targets.
    */
  private def writeCompactionRecord(spark: SparkSession, outDir: String, c: Compaction): Unit = {
    val dir = new org.apache.hadoop.fs.Path(compactionsDir(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".c${c.batch}.json.tmp")
    val dst = new org.apache.hadoop.fs.Path(dir, s"c${c.batch}.json")
    val os = fs.create(tmp, /* overwrite */ true)
    try os.write(
      (s"""{"batch":${c.batch},"replaces":[${c.replaces.sorted.mkString(",")}],""" +
        s""""max_part":${c.maxPart},"rows":${c.rows},"raw_bytes":${c.rawBytes}}""")
        .getBytes("UTF-8"))
    finally os.close()
    require(fs.rename(tmp, dst), s"could not commit compaction record $dst")
  }

  /** Next batch id and part_id offset that clear EVERYTHING on disk —
    * manifest rows, compaction records (covering the crash window where a
    * record exists but the compacted batch's manifest rows don't yet),
    * and orphan batch= chunk dirs (uncommitted crashed writes must not be
    * silently overwritten by an append that happens to pick their id).
    */
  private[graft] def nextBatchAndPart(spark: SparkSession, outDir: String): (Int, Int) = {
    val snap = TableMeta.snapshot(spark, outDir)
    val comps = snap.compactions
    val mBatch = snap.batchIds.foldLeft(-1)(math.max)
    val mPart = snap.maxPart
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chunkRoot = new org.apache.hadoop.fs.Path(chunkDir(outDir))
    val orphanMax =
      if (!fs.exists(chunkRoot)) -1
      else fs.listStatus(chunkRoot).iterator.map(_.getPath.getName).collect {
        case n if n.startsWith("batch=") => n.stripPrefix("batch=").toInt
      }.foldLeft(-1)(math.max)
    val maxBatch = (Seq(mBatch, orphanMax) ++ comps.map(_.batch)).max
    val maxPart = (Seq(mPart) ++ comps.map(_.maxPart)).max
    (maxBatch + 1, maxPart + 1)
  }

  /** OPTIMIZE-style batch compaction: rewrite every currently-visible
    * batch (or the `batches` subset) as ONE new batch of
    * `targetPartitions` files, then atomically swap visibility via a
    * compaction record. The rewrite is a full decode → re-encode through
    * the normal batch path, so chunks come out at the configured target
    * size with fresh dictionaries/stats/blooms — the answer to a
    * streaming-encode dir that accumulated hundreds of small micro-batch
    * files (at 100 TB, scan task count ∝ file count, so compaction is
    * what keeps long-lived tables readable). Layout, compression,
    * segmentation and pinned string codecs are inherited from the dir
    * unless overridden; `keyColumn` re-clusters on rewrite (the
    * rewrite-with-sort story).
    *
    * Crash-safe at every point: the record is the only commit — before it
    * lands readers serve the old batches (a dead rewrite leaves an
    * invisible orphan dir that `vacuum` reclaims; later writes allocate
    * PAST its id, never over it); after it they serve only the new one.
    * Replaced batches' files survive for time travel until `vacuum`.
    *
    * Single-writer, like every graft write path. Do NOT compact a dir a
    * StreamingEncode sink still writes to: the sink derives batch ids
    * from the stream's own epoch counter, which knows nothing about the
    * compaction's higher id — stop the stream, compact, then resume
    * reading (the stream SOURCE is unaffected: it ignores compaction
    * batches and replaced batches stay streamable until vacuum).
    */
  def compact(spark: SparkSession, outDir: String, targetPartitions: Int,
              keyColumn: Option[String] = None,
              batches: Option[Set[Int]] = None,
              compression: Option[String] = None,
              // rewrite-with-sort: Nil inherits the dir's existing sort
              // claim (a sorted dir stays sorted through compaction)
              sortColumns: Seq[String] = Nil,
              // rewrite-with-zorder (OPTIMIZE ZORDER): mutually exclusive
              // with sortColumns; never inherited (z leaves no claim)
              zorderColumns: Seq[String] = Nil): Int =
    rewriteBatches(spark, outDir, targetPartitions, keyColumn, batches,
      compression, sortColumns, zorderColumns, identity)

  /** Row-level DELETE as a rewrite: every currently-visible batch is
    * decoded, rows matching `condition` are dropped, and the remainder
    * commits as one new batch whose compaction record atomically retires
    * the old ones — the same crash-safety and time-travel story as
    * compact (`asOfBatch` before the delete still sees the deleted rows
    * until vacuum). A full rewrite by design: exact-predicate row
    * deletes on an immutable columnar layout cost a rewrite somewhere,
    * and doing it through the batch machinery buys atomicity for free.
    * At 100 TB, delete in key-aligned waves (run compact on batch
    * subsets first) rather than one table-wide pass. Returns the new
    * batch id. Also the engine behind SQL `DELETE FROM` on catalog
    * tables (GraftTable's SupportsDeleteV2).
    */
  def deleteWhere(spark: SparkSession, outDir: String, condition: Column,
                  targetPartitions: Int): Int = {
    // selective rewrite: only batches whose chunk stats admit matching
    // rows are decoded + re-encoded; the rest stay visible untouched. A
    // one-row delete on a 100 TB table must not rewrite 100 TB.
    val affected = affectedBatches(spark, outDir, condition)
    if (affected.isEmpty) return -1 // provably nothing to delete: no-op
    rewriteBatches(spark, outDir, targetPartitions, keyColumn = None,
      batches = Some(affected),
      compression = None, sortColumns = Nil, zorderColumns = Nil,
      // SQL DELETE semantics: drop rows where the condition is TRUE —
      // rows where it evaluates NULL are KEPT (a bare !condition would
      // filter them out)
      transform = _.filter(!coalesce(condition, lit(false))))
  }

  /** Row-level UPDATE as a rewrite: rows where `condition` is TRUE get
    * each assignment applied; all other rows (including condition-NULL,
    * per SQL semantics) pass through unchanged. Same atomic
    * compaction-record commit and time-travel story as deleteWhere.
    * Assignments must target EXISTING columns (this is DML, not schema
    * evolution) and must not change the column's type.
    */
  def updateWhere(spark: SparkSession, outDir: String, condition: Column,
                  assignments: Map[String, Column], targetPartitions: Int): Int = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val schema = schemaFromDisk(spark, outDir).getOrElse(
      throw new IllegalArgumentException(s"no ${schemaPath(outDir)} — cannot update"))
    assignments.keys.foreach { c =>
      require(schema.fields.exists(_.name.equalsIgnoreCase(c)),
        s"updateWhere: no column $c in ${schema.fieldNames.mkString(",")}")
    }
    // selective like deleteWhere: batches that provably hold no matching
    // row pass through untouched (their rows would be identity-rewritten)
    val affected = affectedBatches(spark, outDir, condition)
    if (affected.isEmpty) return -1 // provably nothing to update: no-op
    rewriteBatches(spark, outDir, targetPartitions, keyColumn = None,
      batches = Some(affected),
      compression = None, sortColumns = Nil, zorderColumns = Nil,
      transform = df => {
        // ONE simultaneous projection (SQL UPDATE semantics): the hit
        // condition and every assignment RHS evaluate against the
        // PRE-update row — a sequential withColumn chain would feed later
        // assignments (and the re-resolved condition) already-updated
        // columns, so `SET a = b, b = a` silently swapped wrong, and the
        // result depended on Map iteration order. Mirrors the single
        // SELECT GraftDmlRunner.merge builds its CASE chains with.
        val hit = coalesce(condition, lit(false))
        df.select(schema.fields.map { f =>
          assignments.collectFirst { case (c, v) if f.name.equalsIgnoreCase(c) =>
            when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          }.getOrElse(col(f.name))
        }.toIndexedSeq: _*)
      })
  }

  /** Replace EVERY visible batch with the given result DataFrame in one
    * atomic swap — the engine under SQL MERGE INTO (the merged result is
    * computed over the live table while the old batches stay visible;
    * the compaction record is the commit). Layout/codec/compression are
    * inherited from the dir like every other rewrite.
    */
  private[graft] def rewriteVisibleWith(spark: SparkSession, outDir: String,
                                        targetPartitions: Int, result: DataFrame): Int =
    rewriteBatches(spark, outDir, targetPartitions, keyColumn = None, batches = None,
      compression = None, sortColumns = Nil, zorderColumns = Nil, transform = _ => result)

  /** Replace only `batches` with `result` in one atomic swap — the
    * selective-MERGE commit: batches whose stats provably admit no
    * merge-key match stay visible untouched (their files byte-identical),
    * and only the affected subset is re-encoded.
    */
  private[graft] def rewriteSubsetWith(spark: SparkSession, outDir: String,
                                       targetPartitions: Int, batches: Set[Int],
                                       result: DataFrame): Int =
    rewriteBatches(spark, outDir, targetPartitions, keyColumn = None,
      batches = Some(batches), compression = None, sortColumns = Nil,
      zorderColumns = Nil, transform = _ => result)

  /** Batches that can possibly hold rows matching `condition` — the DML
    * pruning pass. The condition is resolved by NAME against the table
    * schema, split into conjuncts, translated to V1 filters, and run
    * through the same ChunkPrune keep logic the scan's file pruning
    * uses, evaluated on the driver against TableMeta's sidecar index (no
    * Spark job once the batches' sidecars are cached). Every
    * step is conservative: untranslatable conjuncts contribute no
    * pruning, batches without sidecar coverage (or missing a predicate
    * column — schema evolution) count as affected, and an unresolvable
    * condition returns every visible batch.
    */
  private[graft] def affectedBatches(spark: SparkSession, outDir: String,
                                     condition: Column): Set[Int] = {
    val visible = committedBatches(spark, outDir)
    if (visible.isEmpty) return visible
    val schema = schemaFromDisk(spark, outDir).getOrElse(return visible)
    val specs = specsFromDisk(spark, outDir).getOrElse(return visible)
    val resolved =
      try {
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        empty.filter(condition).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val preds = resolved.toSeq.flatMap(conjuncts)
      .flatMap(e => org.apache.spark.sql.graftbridge.Bridge.translateV1Filter(e))
      .flatMap(f => graft.spark.source.ChunkPrune.from(f, specs))
    TableMeta.batchesPossiblyMatching(spark, outDir, visible, preds)
  }

  private def rewriteBatches(spark: SparkSession, outDir: String, targetPartitions: Int,
                             keyColumn: Option[String],
                             batches: Option[Set[Int]],
                             compression: Option[String],
                             sortColumns: Seq[String],
                             zorderColumns: Seq[String],
                             transform: DataFrame => DataFrame): Int = {
    val visible = committedBatches(spark, outDir)
    require(visible.nonEmpty, s"nothing to compact under $outDir")
    val toCompact = batches.getOrElse(visible)
    require(toCompact.nonEmpty && toCompact.subsetOf(visible),
      s"batches $toCompact not a subset of visible $visible")

    val schema = schemaFromDisk(spark, outDir).getOrElse(
      throw new IllegalArgumentException(s"no ${schemaPath(outDir)} — cannot compact"))
    // inherit the dir's own layout + codec decisions unless overridden
    // (withChunkSchema null-fills columns older writers didn't have)
    val chunkMeta = withChunkSchema(
      readChunkTree(spark, outDir)
        .filter(col("batch").isInCollection(toCompact.toSeq.map(Integer.valueOf))))
    // one metadata aggregate instead of three separate collect jobs. The
    // kind is the OLDEST rewritten batch's, so a rewrite spanning batches
    // of different kinds (a zlib table appended to under the zstd
    // default) picks the same one on every run
    val inh = chunkMeta.agg(
      min(when(col("compression").isNotNull, struct(col("batch"), col("compression"))))
        .getField("compression").as("comp"),
      max(col("seg_lens").isNotNull).as("seg"),
      collect_set(when(col("bloom").isNotNull, col("column"))).as("blooms")).collect()(0)
    val inheritedCompression = compression.getOrElse(
      if (inh.isNullAt(0)) "zlib" else inh.getString(0))
    val segmented = !inh.isNullAt(1) && inh.getBoolean(1)
    val bloomCols = inh.getSeq[String](2).toSet
    val effectiveSort =
      if (zorderColumns.nonEmpty) Nil
      else if (sortColumns.nonEmpty) sortColumns
      else sortColumnsFromDisk(spark, outDir)
    val cfg = Config(outDir, numPartitions = targetPartitions, keyColumn = keyColumn,
      compression = inheritedCompression, segmented = segmented,
      bloomColumns = bloomCols, partitionByColumn = isColumnPartitioned(spark, outDir),
      sortColumns = effectiveSort, zorderColumns = zorderColumns,
      // rewrite-with-zorder: rescale bounds come from the chunk
      // manifest's min/max stats (metadata-only) instead of a second
      // decode of the input for a sampling pass
      zorderBoundsHint =
        if (zorderColumns.isEmpty) None
        else zorderBoundsFromStats(chunkMeta, schema, zorderColumns))

    val (newBatch, partOffset) = nextBatchAndPart(spark, outDir)
    val df = transform(decodeBatches(spark, outDir, toCompact, schema))
    // codecs come from the snapshot's lineage (the table has batches)
    val (entries, _) = encodeOneBatch(df, cfg, newBatch, partOffset, hadBatches = true,
      schemaOverride = Some(schema))

    // THE commit: swap old for new atomically
    val maxPartWritten = entries.iterator.map(_.part_id).foldLeft(partOffset)(math.max)
    writeCompactionRecord(spark, outDir, Compaction(newBatch, toCompact.toSeq.sorted,
      maxPartWritten, rows = entries.iterator.map(_.row_count).sum,
      rawBytes = entries.iterator.map(_.raw_bytes).sum))

    // a FULL compact leaves the new batch as the only visible one, so its
    // sort IS the dir's sort — upgrade the claim the conservative
    // maintain rule (which saw prior batches) would have dropped
    if (toCompact == visible && effectiveSort.nonEmpty &&
        effectiveSort.forall(_.matches("""[\w.\- ]+""")))
      writeLayoutJson(spark, outDir, effectiveSort)

    // lineage/metrics after the commit point — a crash here loses metrics
    // rows, never data visibility. Driver-side JSON commit, no Spark job.
    writeManifestEntries(spark, outDir, entries.toIndexedSeq)
    newBatch
  }

  /** Physically delete (a) replaced batches' chunk + filestats dirs and
    * (b) ORPHAN batch dirs — ids never committed by a manifest row or a
    * compaction record, i.e. the leftovers of crashed writes/compactions
    * (a crashed full-table rewrite is a 100% copy of the data; it must be
    * reclaimable). Breaks time travel to before the compactions and any
    * stream still catching up on replaced batches — streams detect the
    * gap and fail loudly rather than skip. Manifest rows are kept as
    * lineage history (committedBatches already excludes replaced ids).
    * Single-writer, like every graft write path: do not vacuum while
    * another writer may be mid-batch (its uncommitted dir looks like an
    * orphan).
    */
  def vacuum(spark: SparkSession, outDir: String): Seq[Int] = {
    val records = compactions(spark, outDir)
    val owned = manifestBatches(spark, outDir) ++ records.map(_.batch)
    val conf = spark.sparkContext.hadoopConfiguration
    val chunkRoot = new org.apache.hadoop.fs.Path(chunkDir(outDir))
    val fs = chunkRoot.getFileSystem(conf)
    val onDisk =
      if (!fs.exists(chunkRoot)) Seq.empty[Int]
      else fs.listStatus(chunkRoot).iterator.map(_.getPath.getName).collect {
        case n if n.startsWith("batch=") => n.stripPrefix("batch=").toInt
      }.toSeq
    val orphans = onDisk.filterNot(owned.contains)
    val replaced = records.flatMap(_.replaces).distinct
    (replaced ++ orphans).distinct.sorted.filter { b =>
      val chunkPath = new org.apache.hadoop.fs.Path(chunkBatchDir(outDir, b))
      val existed = fs.exists(chunkPath)
      fs.delete(chunkPath, /* recursive */ true)
      fs.delete(new org.apache.hadoop.fs.Path(filestatsBatchDir(outDir, b)), true)
      existed
    }
  }

  /** Pin per-string-column codec decisions from a bounded sample drawn
    * across the WHOLE input, not `limit(n)`'s head read: input clustered
    * by the very key the job salts on (web crawls arrive lang-ordered)
    * would pin a codec fit to the head's one language under a head read.
    *
    * Sampling is a seeded per-partition reservoir — ONE narrow pass over
    * just the string columns (projection reaches the source scan), no
    * count job (`takeSample` runs one), driver memory bounded at
    * sampleRows rows. Each partition contributes an equal share, which
    * slightly over-weights small partitions — irrelevant for codec
    * selection, which needs representative value SHAPES, not unbiased
    * frequencies.
    */
  def pinStringCodecs(df: DataFrame, sampleRows: Int): Map[String, String] = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    if (stringCols.isEmpty) return Map.empty
    // narrow scan over just the string columns; pruning reaches the source
    val narrow = df.select(stringCols.map(col).toIndexedSeq: _*)
    val sample = Sampling.reservoirSample(narrow.rdd, sampleRows, seed = 42L)
    stringCols.zipWithIndex.map { case (name, i) =>
      val values = sample.iterator.filterNot(_.isNullAt(i)).map(_.getString(i)).toSeq
      name -> CodecSelector.chooseStringCodec(CodecSelector.stringStats(values))
    }.toMap
  }

  /** Explicit partitioning with skew salting. Deterministic across runs
    * for the same input (required for batch resume): the salt is a hash
    * of a cheap stable per-row column, bucketed per key value by SAMPLED
    * frequency — at 100 TB neither a full-input frequency scan nor
    * hashing every multi-KB html blob per row is acceptable (both were
    * round-1 findings). The histogram pass projects ONLY the key column
    * (pruning reaches the source scan) and samples it; only relative
    * frequencies are used, so the sample scale cancels out.
    */
  def partitionWithSalt(df: DataFrame, cfg: Config): DataFrame = {
    require(cfg.sortColumns.isEmpty || cfg.zorderColumns.isEmpty,
      "sortColumns and zorderColumns are mutually exclusive")
    val partitioned = partitionUnsorted(df, cfg)
    // per-partition sorts only — no range exchange, the partitioning
    // (hash/salt) above is untouched; asc_nulls_first matches the
    // SortDirection.ASCENDING default the scan reports back
    if (cfg.sortColumns.nonEmpty)
      partitioned.sortWithinPartitions(cfg.sortColumns.map(col): _*)
    else if (cfg.zorderColumns.nonEmpty)
      partitioned.sortWithinPartitions(
        graft.plans.ZOrderKey.withBounds(
          zorderBounds(df, cfg), cfg.zorderColumns.map(col): _*))
    else partitioned
  }

  /** Per-column [lo, hi] key-bit bounds for the Z-order rescale, from a
    * narrow sampled min/max scan over just the z columns (same pattern
    * as the skew histogram — relative position is all that matters, so a
    * small sample is plenty; tiny inputs fall back to an exact scan).
    * Rows outside the sampled bounds clamp to the curve's ends:
    * clustering degrades at the tails, correctness never depends on it.
    * Cost note: on compact's decoded input this sampling pass re-runs
    * the upstream decode once — deriving bounds from the chunk manifest's
    * min/max stats instead would make it metadata-only; acceptable today
    * because compaction is already a full rewrite.
    */
  /** Count of SAMPLING bounds passes (test instrumentation: a compact
    * with chunk-stat coverage must stay metadata-only).
    */
  private[graft] val zorderSamplingScans = new java.util.concurrent.atomic.AtomicLong(0)

  /** Z-order rescale bounds from the CHUNK STATS of the batches being
    * rewritten — a tiny metadata aggregate instead of re-decoding the
    * input for a sampling pass. None (→ sampling fallback) when a z
    * column's type has no numeric stat space or its stats are absent
    * (all-null column, pre-stats dir). Bounds only shape clustering
    * quality, never correctness, so the fallback is always safe.
    */
  private def zorderBoundsFromStats(chunkMeta: DataFrame, schema: StructType,
                                    zcols: Seq[String]): Option[Seq[(Long, Long)]] = {
    import org.apache.spark.sql.functions.{max, min}
    val out = zcols.map { c =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(return None)
      val castT = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType => "bigint"
        case DoubleType | FloatType                        => "double"
        case _                                             => return None
      }
      val r = chunkMeta
        .filter(col("column") === f.name && col("min_val").isNotNull && col("max_val").isNotNull)
        .agg(min(col("min_val").try_cast(castT)), max(col("max_val").try_cast(castT)))
        .collect()(0)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      def bits(v: Any): Long = {
        val typed: Any = (f.dataType, v) match {
          case (IntegerType, l: Long) => l.toInt
          case (ShortType, l: Long)   => l.toShort
          case (ByteType, l: Long)    => l.toByte
          case (FloatType, d: Double) => d.toFloat
          case _                      => v
        }
        graft.plans.ZOrderKey.bitsOfExternal(typed, f.dataType)
      }
      (bits(r.get(0)), bits(r.get(1)))
    }
    Some(out)
  }

  private def zorderBounds(df: DataFrame, cfg: Config): Seq[(Long, Long)] = {
    import org.apache.spark.sql.functions.{max, min}
    cfg.zorderBoundsHint match { case Some(b) => return b; case None => }
    zorderSamplingScans.incrementAndGet()
    val zcols = cfg.zorderColumns
    val aggs = zcols.flatMap(c => Seq(min(col(c)), max(col(c))))
    def minMaxOf(src: DataFrame) =
      src.select(zcols.map(col): _*).agg(aggs.head, aggs.tail: _*).collect()(0)
    var row = minMaxOf(df.sample(withReplacement = false,
      math.min(1.0, cfg.saltSampleFraction * 10), seed = 42))
    if ((0 until zcols.size * 2).exists(row.isNullAt)) row = minMaxOf(df)
    zcols.zipWithIndex.map { case (c, i) =>
      val dt = df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"zorderColumns: no column $c")).dataType
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) (0L, -1L) // all-null: identity
      else (graft.plans.ZOrderKey.bitsOfExternal(row.get(2 * i), dt),
        graft.plans.ZOrderKey.bitsOfExternal(row.get(2 * i + 1), dt))
    }
  }

  private def partitionUnsorted(df: DataFrame, cfg: Config): DataFrame = cfg.keyColumn match {
    case None => df.repartition(cfg.numPartitions)
    case Some(key) =>
      def histogram(src: DataFrame): Array[(String, Long)] =
        src.groupBy(col(key)).count()
          .orderBy(desc("count")).limit(100).collect()
          .flatMap(r => if (r.isNullAt(0)) None else Some(r.get(0).toString -> r.getLong(1)))
      val keyOnly = df.select(col(key))
      var freqs = histogram(keyOnly.sample(withReplacement = false, cfg.saltSampleFraction, seed = 42))
      if (freqs.map(_._2).sum < SaltSampleFloor) freqs = histogram(keyOnly) // tiny input: exact
      val total = math.max(1L, freqs.map(_._2).sum)
      // heavy keys get proportionally many buckets; everything else 1
      val saltExpr = freqs.foldLeft(lit(1)) { case (acc, (v, c)) =>
        val n = math.max(1, math.ceil(c.toDouble / total * cfg.numPartitions).toInt)
        when(col(key) === lit(v), lit(n)).otherwise(acc)
      }
      // salt source: a cheap stable column (url-like), never the whole
      // row — hashing every html blob to derive one bucket id was ~6 KB
      // of hashing per row
      val saltSource: Column = cfg.saltColumn
        .orElse(df.schema.fields.find(f => f.dataType == StringType && f.name != key).map(_.name))
        .map(c => xxhash64(col(c)))
        .getOrElse(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)))
      df.withColumn("__salt", pmod(saltSource, saltExpr.cast("long")))
        .repartition(cfg.numPartitions, col(key), col("__salt"))
        .drop("__salt")
  }

  /** Codec lineage string for the manifest (col=CODEC,...). */
  private def lineage(specs: Array[ColumnSpec]): String =
    specs.map(s => s"${s.name}=${if (s.logical == "string") s.stringCodec else s.logical.toUpperCase}").mkString(",")

  private def parseLineage(s: String): Map[String, String] =
    s.split(',').iterator.map { kv =>
      val Array(k, v) = kv.split('=')
      k -> v
    }.filter { case (_, v) => v.startsWith("STRING_") }.toMap

  /** Encode one complete DataFrame as manifest batch `batchId` — the unit
    * a Structured Streaming micro-batch maps onto (StreamingEncode). Codec
    * decisions come from the manifest's lineage when the table already
    * has batches (the stream pins them on batch 0), else from a fresh
    * sample. part_ids are offset by batchId × numPartitions so chunks
    * from different batches never collide in decode's (part_id, chunk_id)
    * grouping.
    */
  def runBatch(df: DataFrame, cfg: Config, batchId: Int, hadBatches: Boolean): Result = {
    val spark = df.sparkSession
    import spark.implicits._
    val (entries, specs) = encodeOneBatch(df, cfg, batchId,
      partIdOffset = batchId * cfg.numPartitions, hadBatches)
    // commit point: the batch is durable only once these rows land —
    // a driver-side JSON commit file (atomic rename), no Spark job
    writeManifestEntries(spark, cfg.outDir, entries.toIndexedSeq)
    Result(specs, chunkDir(cfg.outDir), manifestDir(cfg.outDir), 1, 0)
  }

  /** Encode one DataFrame into batch `batchId`'s chunk + sidecar dirs and
    * return its manifest rows WITHOUT committing them — the caller owns
    * the commit point (runBatch: manifest append; compact: the compaction
    * record). Until then the batch dir is an invisible orphan that a
    * replay simply overwrites.
    */
  private def encodeOneBatch(df: DataFrame, cfg: Config, batchId: Int, partIdOffset: Int,
                             hadBatches: Boolean,
                             // compact passes the dir's persisted schema: the
                             // decoded frame is all-nullable, and rewriting
                             // schema.json from it would flip nullability
                             // under later appends' schema guard
                             schemaOverride: Option[org.apache.spark.sql.types.StructType] = None)
      : (Array[ManifestEntry], Array[ColumnSpec]) = {
    val spark = df.sparkSession
    import spark.implicits._

    val stringCodecs: Map[String, String] =
      (if (hadBatches) TableMeta.snapshot(spark, cfg.outDir).codecs else None)
      .map(parseLineage)
      .getOrElse(pinStringCodecs(df, cfg.sampleRows))
    val schema = schemaOverride.getOrElse(df.schema)
    val specs = TableEncoder.columnSpecs(schema, stringCodecs)
    val codecLineage = lineage(specs)

    writeSchemaJson(spark, cfg.outDir, schema)
    maintainSortClaim(spark, cfg.outDir, cfg, hadBatches = hadBatches)
    val shredded = TableEncoder.shred(partitionWithSalt(df, cfg), specs)
    val t0 = System.nanoTime()
    val chunks = TableEncoder.encode(shredded, specs, cfg.strideRows,
      cfg.chunkTargetBytes, partIdOffset = partIdOffset, aligned = cfg.alignedEncoding,
      compression = cfg.compression, segmented = cfg.segmented,
      bloomColumns = cfg.bloomColumns)
    // Overwrite into the batch-scoped dir: a replay of a half-written
    // batch replaces the orphan files instead of appending duplicates
    writeChunks(chunks, cfg, batchId)
    val summary = writeFileStatsAndSummary(spark, cfg.outDir, batchId)
    val wallMs = (System.nanoTime() - t0) / 1000000L

    (summary.map { r =>
      ManifestEntry(r.getInt(0), batchId, r.getLong(1).toInt,
        r.getLong(2) / math.max(1, specs.length),
        r.getLong(3), r.getLong(4), wallMs, codecLineage)
    }, specs)
  }

  /** Full run with resume: batches whose manifest rows are committed are
    * skipped, and the recorded codec decisions are reused.
    */
  def run(df: DataFrame, cfg: Config): Result = {
    val spark = df.sparkSession
    import spark.implicits._

    // one snapshot read serves visibility AND the pinned codec lineage
    val snap = TableMeta.snapshot(spark, cfg.outDir)
    val committed: Set[Int] = snap.batchIds
    val hadManifest = committed.nonEmpty || {
      val path = new org.apache.hadoop.fs.Path(manifestDir(cfg.outDir))
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
    }
    // resume with the pinned decisions from lineage, not a fresh sample
    val stringCodecs: Map[String, String] = snap.codecs
      .map(parseLineage)
      .getOrElse(pinStringCodecs(df, cfg.sampleRows))

    val specs = TableEncoder.columnSpecs(df.schema, stringCodecs)
    val codecLineage = lineage(specs)

    writeSchemaJson(spark, cfg.outDir, df.schema)
    maintainSortClaim(spark, cfg.outDir, cfg, hadBatches = hadManifest)
    val partitioned = partitionWithSalt(df, cfg)
    val shredded = TableEncoder.shred(partitioned, specs)

    var encoded = 0
    var skipped = 0
    (0 until cfg.commitBatches).foreach { b =>
      if (committed.contains(b)) skipped += 1
      else {
        encoded += 1
        val t0 = System.nanoTime()
        val batchDf =
          if (cfg.commitBatches == 1) shredded
          else shredded.filter(pmod(spark_partition_id(), lit(cfg.commitBatches)) === b)
        val chunks = TableEncoder.encode(batchDf, specs, cfg.strideRows, cfg.chunkTargetBytes,
          aligned = cfg.alignedEncoding, compression = cfg.compression,
          segmented = cfg.segmented, bloomColumns = cfg.bloomColumns)
        // Overwrite into the batch dir — replays of an uncommitted batch
        // replace its orphan files; the manifest append below is the
        // commit point. One metadata read serves sidecar AND summary.
        writeChunks(chunks, cfg, b)
        val summary = writeFileStatsAndSummary(spark, cfg.outDir, b)
        val wallMs = (System.nanoTime() - t0) / 1000000L

        val entries = summary.map { r =>
          ManifestEntry(r.getInt(0), b, r.getLong(1).toInt,
            r.getLong(2) / math.max(1, specs.length), // rows were summed over columns
            r.getLong(3), r.getLong(4), wallMs, codecLineage)
        }
        // commit point: the batch is durable only once these rows land —
        // a driver-side JSON commit file (atomic rename), no Spark job
        writeManifestEntries(spark, cfg.outDir, entries.toIndexedSeq)
      }
    }

    Result(specs, chunkDir(cfg.outDir), manifestDir(cfg.outDir), encoded, skipped)
  }

  /** Reconstruct column specs from the manifest's codec lineage — how a
    * reader that only has the output directory (plus the logical schema)
    * recovers the pinned decisions needed to decode.
    */
  def specsFromManifest(spark: SparkSession, outDir: String,
                        schema: org.apache.spark.sql.types.StructType): Array[ColumnSpec] = {
    // snapshot-cached; the NEWEST batch's lineage (post-ALTER batches
    // carry strictly more columns). Empty for a schema-only table.
    val codecs = TableMeta.snapshot(spark, outDir).codecs
      .map(parseLineage).getOrElse(Map.empty)
    TableEncoder.columnSpecs(schema, codecs)
  }

  private def writeChunks(chunks: Dataset[EncodedChunk], cfg: Config, batchId: Int): Unit = {
    val w = chunks.write.mode(SaveMode.Overwrite)
    (if (cfg.partitionByColumn) w.partitionBy("column") else w)
      .parquet(chunkBatchDir(cfg.outDir, batchId))
    // the writer KNOWS the layout — record it so a SAME-JVM rewrite of an
    // outDir with a different layout serves readers the fresh answer. The
    // guarantee is JVM-scoped only: another process rewriting this outDir
    // with a different layout leaves this cache stale, which costs
    // readBack a probe-driven fallback to the (always-correct) shuffled
    // path or a loud scan failure, never wrong data — cross-process
    // rewrites want a new session.
    layoutCache.put(cfg.outDir, java.lang.Boolean.valueOf(cfg.partitionByColumn))
  }

  /** Schema back-compat for chunk parquet written by older engine
    * versions: columns added since (compression, seg_lens,
    * stride_null_counts, ...) are filled with nulls before binding to
    * EncodedChunk, so the case-class defaults' getOrElse fallbacks are
    * actually reachable instead of the read failing on a missing column.
    */
  private[spark] def withChunkSchema(df: DataFrame): DataFrame = {
    val target = org.apache.spark.sql.Encoders.product[EncodedChunk].schema
    target.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
  }

  /** The chunk parquet's schema, stated explicitly on every read: no
    * schema-inference footer pass, and columns a pre-upgrade writer
    * lacked read as nulls — the same back-compat contract withChunkSchema
    * provided, decided at scan time instead of plan-rewrite time.
    */
  private[spark] val chunkFileSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[EncodedChunk].schema

  /** chunkFileSchema plus the `batch` Hive-partition column (reads of the
    * chunk ROOT see it; reads of one batch dir don't).
    */
  private[spark] val chunkTreeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(chunkFileSchema.fields :+
      org.apache.spark.sql.types.StructField("batch", org.apache.spark.sql.types.IntegerType))

  /** Read the chunk tree (all batches) with the explicit schema. */
  private[spark] def readChunkTree(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(chunkTreeSchema).parquet(chunkDir(outDir))

  /** Chunk rows of `batches` only (committed batches by default). The
    * `batch` partition-column filter prunes whole orphan directories at
    * the scan — uncommitted or half-written batches are invisible to
    * every reader.
    */
  private def committedChunks(spark: SparkSession, outDir: String,
                              batches: Option[Set[Int]] = None): Dataset[EncodedChunk] = {
    val visible = batches.getOrElse(committedBatches(spark, outDir))
    withChunkSchema(readChunkTree(spark, outDir)
      .filter(col("batch").isInCollection(visible.toSeq.map(Integer.valueOf))))
      .as[EncodedChunk](org.apache.spark.sql.Encoders.product[EncodedChunk])
  }

  /** Read encoded chunks back into the original table shape through the
    * DataSource V2 scan (`format("graft")`: one partition per chunk file,
    * no Exchange, column pruning down to the stream blobs) whenever the
    * on-disk layout is the writer's own — column-partitioned, or passing
    * the metadata-only `colocatedLayoutOk` probe. Chunk files rewritten
    * outside the engine (e.g. an external compaction) fall back to the
    * shuffled decode. Pass `columns` to decode a subset: names rebind
    * case-insensitively, unknown names throw, and the other columns'
    * blobs are never decompressed (on the column-partitioned layout their
    * files are never opened).
    */
  def readBack(spark: SparkSession, outDir: String, specs: Array[ColumnSpec],
               columns: Option[Seq[String]] = None): DataFrame =
    if (isColumnPartitioned(spark, outDir) || colocatedLayoutOk(spark, outDir, specs))
      scan(spark, outDir, specs, columns)
    else readBackShuffled(spark, outDir, specs, columns)

  /** The scan over the specs' logical schema, projected to `columns`
    * (rebound to canonical names) or to every spec column.
    */
  private def scan(spark: SparkSession, outDir: String, specs: Array[ColumnSpec],
                   columns: Option[Seq[String]]): DataFrame = {
    val selected = columns.fold(specs)(TableEncoder.subsetSpecs(specs, _))
    spark.read.schema(TableEncoder.logicalSchema(specs)).format("graft").load(outDir)
      .select(selected.map(s => col(s.name)).toIndexedSeq: _*)
  }

  /** True when the chunk table was written with partitionByColumn
    * (column=<name> dirs under the batch dirs) — a filesystem listing,
    * no data or parquet-footer reads. The answer is cached process-wide
    * (on an object store the two-level LIST per readBack would otherwise
    * cost hundreds of calls across batches) and updated by SAME-JVM
    * writes; if another process overwrites the dir with the opposite
    * layout, a stale entry costs this JVM at worst the shuffled fallback
    * or a loud scan failure, never wrong data. A
    * JVM that needs to observe a cross-process layout rewrite should use
    * a new outDir (the recommended pattern) or a new session/JVM.
    */
  private val layoutCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def isColumnPartitioned(spark: SparkSession, outDir: String): Boolean = {
    val cached = layoutCache.get(outDir)
    if (cached != null) return cached.booleanValue()
    val dir = new org.apache.hadoop.fs.Path(chunkDir(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return false // not cached: the dir may appear later
    val result = fs.listStatus(dir).exists { batch =>
      batch.isDirectory && batch.getPath.getName.startsWith("batch=") &&
        fs.listStatus(batch.getPath).exists(c =>
          c.isDirectory && c.getPath.getName.startsWith("column="))
    }
    layoutCache.put(outDir, java.lang.Boolean.valueOf(result))
    result
  }

  /** Decode a visible batch subset (the read side of compaction, DML and
    * the selective MERGE) with readBack's routing: through the scan,
    * narrowed by its internal `visibleBatches` option, when those
    * batches are in the writer's own layout; else with the shuffled
    * decode of just those batches — compaction is how a table whose
    * chunk files were rewritten outside the engine gets repaired.
    */
  private def decodeBatches(spark: SparkSession, outDir: String, batches: Set[Int],
                            schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val specs = specsFromManifest(spark, outDir, schema)
    if (isColumnPartitioned(spark, outDir) || layoutOk(spark, outDir, specs, Some(batches)))
      spark.read.schema(schema).format("graft")
        .option("visibleBatches", batches.toSeq.sorted.mkString(",")).load(outDir)
    else TableEncoder.unshred(
      TableEncoder.decode(committedChunks(spark, outDir, Some(batches)), specs), specs)
  }

  /** Shuffle-based decode: one exchange moves each chunk group to a
    * single task. Always correct regardless of file layout; readBack's
    * fallback when `colocatedLayoutOk` is false.
    */
  def readBackShuffled(spark: SparkSession, outDir: String, specs: Array[ColumnSpec],
                       columns: Option[Seq[String]] = None): DataFrame = columns match {
    case None =>
      TableEncoder.unshred(TableEncoder.decode(committedChunks(spark, outDir), specs), specs)
    case Some(cols) =>
      val subset = TableEncoder.subsetSpecs(specs, cols)
      TableEncoder.unshred(
        TableEncoder.decodeColumns(committedChunks(spark, outDir), specs, cols), subset)
  }

  /** Metadata-only probe for the row-grouped layout the scan relies on:
    * with file splits pinned to one whole file per partition (the scan's
    * granularity), every chunk group must appear as exactly
    * `specs.length` adjacent rows within one file, never interleaved or
    * split. readBack falls back to the shuffled decode when it fails
    * (the scan itself refuses such files loudly). Reads just (part_id,
    * chunk_id) — parquet column projection never touches the stream
    * blobs, so the probe costs a fraction of a percent of the data even
    * at 100 TB.
    */
  def colocatedLayoutOk(spark: SparkSession, outDir: String,
                        specs: Array[ColumnSpec]): Boolean =
    layoutOk(spark, outDir, specs, None)

  /** colocatedLayoutOk over `batches` only (committed batches by default). */
  private def layoutOk(spark: SparkSession, outDir: String, specs: Array[ColumnSpec],
                       batches: Option[Set[Int]]): Boolean =
    withPinnedSplits(spark, outDir) {
      val nCols = specs.length
      val meta = committedChunks(spark, outDir, batches).select("part_id", "chunk_id")
      val badCounts = meta.rdd.mapPartitions { it =>
        val seen = scala.collection.mutable.HashSet[Long]()
        var bad = 0L
        var curKey = Long.MinValue
        var run = 0
        while (it.hasNext) {
          val r = it.next()
          val key = (r.getInt(0).toLong << 32) | (r.getInt(1).toLong & 0xffffffffL)
          if (key == curKey) run += 1
          else {
            if (run != 0 && run != nCols) bad += 1
            if (!seen.add(key)) bad += 1 // group re-appeared → interleaved
            curKey = key; run = 1
          }
        }
        if (run != 0 && run != nCols) bad += 1
        Iterator.single(bad)
      }.collect()
      badCounts.sum == 0
    }

  /** The same scan as readBack, without the layout probe, returned as an
    * RDD-backed frame: nothing planned above it can prune columns out of
    * the scan, so `count()` still decodes every requested column — the
    * work graft.Bench and DecodeScale time as decode throughput. The scan
    * is planned here, so its batch snapshot is pinned at call time.
    */
  def readBackColocated(spark: SparkSession, outDir: String,
                        specs: Array[ColumnSpec],
                        columns: Option[Seq[String]] = None): DataFrame = {
    val df = scan(spark, outDir, specs, columns)
    org.apache.spark.sql.graftbridge.Bridge.internalCreateDataFrame(
      spark, df.queryExecution.toRdd, df.schema)
  }

  /** Pin file-split confs for the duration of `body` so every Spark
    * partition covers exactly one whole chunk file (the layout probe's
    * unit): largest data file decides the split bound — maxPartitionBytes
    * ≥ largest file means no file is ever split; openCost == the bound
    * means no two files ever share a partition (bin-packing closes the
    * bin as soon as one file + one opening cost fills it). The body must
    * run its scans eagerly — confs are restored on exit.
    */
  private def withPinnedSplits[T](spark: SparkSession, outDir: String)(body: => T): T = {
    val conf = spark.conf
    val prevMax = conf.getOption("spark.sql.files.maxPartitionBytes")
    val prevOpen = conf.getOption("spark.sql.files.openCostInBytes")
    try {
      // the bound comes from per-batch _filemeta.json (recorded at write
      // time) — O(batches) tiny reads; the recursive chunk-tree walk is
      // only the legacy-dir fallback (pre-metadata batches)
      val largest = maxFileBytesFromMeta(spark, outDir).getOrElse {
        chunkTreeWalks.incrementAndGet()
        val dir = new org.apache.hadoop.fs.Path(chunkDir(outDir))
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        var max = 1L
        val it = fs.listFiles(dir, /* recursive into batch= dirs */ true)
        while (it.hasNext) {
          val s = it.next()
          if (s.isFile && !s.getPath.getName.startsWith("_"))
            max = math.max(max, s.getLen)
        }
        max
      }
      conf.set("spark.sql.files.maxPartitionBytes", largest.toString)
      conf.set("spark.sql.files.openCostInBytes", largest.toString)
      body
    } finally {
      prevMax.fold(conf.unset("spark.sql.files.maxPartitionBytes"))(v =>
        conf.set("spark.sql.files.maxPartitionBytes", v))
      prevOpen.fold(conf.unset("spark.sql.files.openCostInBytes"))(v =>
        conf.set("spark.sql.files.openCostInBytes", v))
    }
  }
}
