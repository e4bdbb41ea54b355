package graft.spark.source

import graft.spark.{ColumnSpec, EncodeJob, EncodedChunk, TableEncoder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow, MakeDecimal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportOrdering, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** `spark.read.format("graft").load(outDir)` — the engine's output as a
  * first-class Spark DataSource V2 table, the read-path analogue of the
  * reference's `OrcReader` entry point (/root/reference/src/
  * ApacheOrcDotNet/OrcReader.cs:17-67) expressed as a Catalyst-visible
  * source instead of a bespoke API:
  *
  *  - schema comes from the persisted `schema.json` + manifest codec
  *    lineage (EncodeJob.specsFromDisk) — no caller-supplied schema;
  *  - column pruning (`SupportsPushDownRequiredColumns`) reaches the
  *    stream blobs: unrequested columns are never decompressed, and on
  *    the column-partitioned layout their FILES are never opened;
  *  - filter pushdown (`SupportsPushDownFilters`) drives chunk-level
  *    min/max + Bloom pruning and sub-chunk stride skipping — pruning
  *    yields supersets, so every filter is also reported back to Spark
  *    as residual and re-applied exactly above the scan;
  *  - one InputPartition per chunk file (the writer's one-file-per-task
  *    invariant), so the scan is the zero-shuffle colocated read: blobs
  *    cross the network zero times, and `numPartitions = 3× reader
  *    parallelism` sizing applies as-is at 1000 executors.
  *
  * Both writer layouts are readable: the default row-grouped layout
  * (whole chunk groups per file) and `partitionByColumn` (one column per
  * file; aligned per-column files of one writer task are zipped back
  * into chunk groups — the DSv2 form of ColumnZipRead, except pruning
  * happens at FILE granularity before anything is opened).
  */
final class GraftSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister
    with CreatableRelationProvider {
  override def shortName(): String = "graft"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft source needs a path: .load(<outDir>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EncodeJob.schemaFromDisk(SparkSession.active, pathOf(options)).getOrElse(
      throw new IllegalArgumentException(
        s"no ${EncodeJob.schemaPath(pathOf(options))} — written by an older engine; " +
          "pass the logical schema via spark.read.schema(...)"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftTable(properties.get("path"), schema,
      new CaseInsensitiveStringMap(properties))

  /** ErrorIfExists/Ignore arrive through Spark's V1 fallback (a
    * TableProvider without native BATCH_WRITE routes create-style saves
    * here); Append/Overwrite go through the V2 WriteBuilder below. Both
    * funnel into GraftWriteSupport so the semantics are identical.
    */
  override def createRelation(sqlContextArg: SQLContext, mode: SaveMode,
                              parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val outDir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft sink needs a path: .save(<outDir>)"))
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val exists = EncodeJob.committedBatches(data.sparkSession, outDir).nonEmpty
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"$outDir already holds committed graft batches (mode=ErrorIfExists); " +
            "use mode(\"append\") or mode(\"overwrite\")")
      case SaveMode.Ignore if exists => // no-op by contract
      case SaveMode.Overwrite        => GraftWriteSupport.insert(data, outDir, opts, overwrite = true)
      case _                         => GraftWriteSupport.insert(data, outDir, opts, overwrite = false)
    }
    new BaseRelation { // save() discards it; schema-only stub
      override def sqlContext: SQLContext = sqlContextArg
      override def schema: StructType = data.schema
    }
  }
}

final class GraftTable(outDir: String, logicalSchema: StructType,
                       options: CaseInsensitiveStringMap,
                       tableProps: java.util.Map[String, String] =
                         java.util.Collections.emptyMap[String, String]())
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {

  /** SQL `DELETE FROM <table> WHERE ...` — accepted only when EVERY
    * predicate round-trips losslessly to a Column (a dropped conjunct
    * would BROADEN the condition and over-delete; refusal makes Spark
    * error instead). Executed as EncodeJob.deleteWhere: a full rewrite
    * committed behind an atomic compaction record, so readers flip from
    * pre-delete to post-delete in one instant and `asOfBatch` time
    * travel still sees the deleted rows until vacuum.
    */
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    predicates.forall { p =>
      val v1 = org.apache.spark.sql.graftbridge.Bridge.predicatesToV1(Array(p))
      v1.length == 1 && FilterToColumn(v1(0)).isDefined
    }

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = SparkSession.active
    val cond = predicates.map { p =>
      FilterToColumn(org.apache.spark.sql.graftbridge.Bridge.predicatesToV1(Array(p))(0))
        .getOrElse(throw new UnsupportedOperationException(s"cannot delete by $p"))
    }.reduceOption(_ && _).getOrElse(lit(true)) // no predicates = delete all
    val parts = GraftWriteSupport.configFrom(outDir, merged(CaseInsensitiveStringMap.empty()),
      spark).numPartitions
    EncodeJob.deleteWhere(spark, outDir, cond, parts)
  }
  override def name(): String = s"graft:$outDir"
  override def schema(): StructType = logicalSchema
  /** Table root on disk — the DML strategy resolves the rewrite target
    * through this.
    */
  def dir: String = outDir
  /** Rewrite parallelism for DML on this table, honoring persisted
    * TBLPROPERTIES (numPartitions etc.) exactly like INSERT does.
    */
  private[source] def dmlPartitions(spark: SparkSession): Int =
    GraftWriteSupport.configFrom(outDir, merged(CaseInsensitiveStringMap.empty()),
      spark).numPartitions
  /** Effective write options (persisted TBLPROPERTIES) for DML paths
    * that append rather than rewrite (e.g. MERGE into an empty table).
    */
  private[source] def writeOptions: CaseInsensitiveStringMap =
    merged(CaseInsensitiveStringMap.empty())
  override def properties(): java.util.Map[String, String] = tableProps
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  /** Statement options override the table's persisted TBLPROPERTIES.
    * Table keys are lower-cased first: statement options iterate
    * lower-cased, and a camelCase table key alongside its lower-cased
    * statement override would otherwise collide arbitrarily inside
    * CaseInsensitiveStringMap.
    */
  private def merged(statement: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    if (tableProps.isEmpty) return statement
    val m = new java.util.HashMap[String, String]()
    tableProps.forEach((k, v) => m.put(k.toLowerCase(java.util.Locale.ROOT), v))
    statement.forEach((k, v) => m.put(k.toLowerCase(java.util.Locale.ROOT), v))
    new CaseInsensitiveStringMap(m)
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val o = merged(options)
    new GraftScanBuilder(outDir, logicalSchema,
      // time travel: read the batch set as of a committed batch id
      asOfBatch = Option(o.get("asOfBatch")).map(_.toInt),
      // INTERNAL (selective MERGE): restrict the scan to a subset of the
      // visible batches — always intersected with the committed set, so
      // it can only narrow, never resurrect replaced/uncommitted batches
      batchOverride = Option(o.get("visibleBatches")).map(
        _.split(',').iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(outDir, merged(info.options()))
}

/** `df.write.format("graft")` — Append/Overwrite as a V1Write fallback
  * (the InsertableRelation route Spark's own JDBC source shipped on for
  * years): the sink receives the WHOLE DataFrame, so the full EncodeJob
  * pipeline applies unchanged — reservoir codec pinning, skew salting,
  * atomic manifest commit, layout options. A row-at-a-time V2 DataWriter
  * would have to give all of that up (per-task codec choices, no global
  * skew histogram), i.e. the fallback is the better architecture here,
  * not a shortcut.
  */
final class GraftWriteBuilder(outDir: String, options: CaseInsensitiveStringMap)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwriteParam: Boolean): Unit =
        GraftWriteSupport.insert(data, outDir, options,
          overwrite = overwrite || overwriteParam)
    }
  }
}

object GraftWriteSupport {
  /** Writer options (all optional): numPartitions, keyColumn, saltColumn,
    * compression (zlib|zstd|lz4|none), segmented, alignedEncoding,
    * strideRows, chunkTargetBytes, commitBatches, sampleRows,
    * bloomColumns (comma-separated), sortColumns (comma-separated —
    * per-partition sort before chunking: clustered chunk ranges for
    * pruning, reported back to Catalyst via SupportsReportOrdering),
    * partitionByColumn.
    */
  def configFrom(outDir: String, o: CaseInsensitiveStringMap,
                 spark: SparkSession): EncodeJob.Config = {
    val d = EncodeJob.Config(outDir, numPartitions = 0, keyColumn = None)
    def opt(k: String): Option[String] = Option(o.get(k)).filter(_.nonEmpty)
    EncodeJob.Config(
      outDir = outDir,
      // default follows the documented sizing rule: one file per encode
      // task and ~3× the expected read parallelism
      numPartitions = opt("numPartitions").map(_.toInt)
        .getOrElse(3 * spark.sparkContext.defaultParallelism),
      keyColumn = opt("keyColumn"),
      sampleRows = opt("sampleRows").map(_.toInt).getOrElse(d.sampleRows),
      strideRows = opt("strideRows").map(_.toInt).getOrElse(d.strideRows),
      chunkTargetBytes = opt("chunkTargetBytes").map(_.toLong).getOrElse(d.chunkTargetBytes),
      commitBatches = opt("commitBatches").map(_.toInt).getOrElse(d.commitBatches),
      saltColumn = opt("saltColumn"),
      alignedEncoding = opt("alignedEncoding").exists(_.toBoolean),
      compression = opt("compression").getOrElse(d.compression),
      segmented = opt("segmented").forall(_.toBoolean),
      bloomColumns = opt("bloomColumns").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty),
      sortColumns = opt("sortColumns").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil),
      zorderColumns = opt("zorderColumns").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil),
      partitionByColumn = opt("partitionByColumn").exists(_.toBoolean))
  }

  def insert(data: DataFrame, outDir: String, options: CaseInsensitiveStringMap,
             overwrite: Boolean): Unit = {
    val spark = data.sparkSession
    val cfg = configFrom(outDir, options, spark)
    val path = new Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

    if (overwrite) {
      // delete only the DATA artifacts — catalog.json (persisted
      // TBLPROPERTIES) must survive an INSERT OVERWRITE, and keeping
      // schema.json means a crash mid-overwrite leaves an EMPTY table
      // (no committed batches) rather than a dropped one; EncodeJob.run
      // rewrites schema.json for the new contents before its commit
      Seq(EncodeJob.chunkDir(outDir), EncodeJob.manifestDir(outDir),
        EncodeJob.compactionsDir(outDir), EncodeJob.filestatsDir(outDir),
        s"$outDir/layout.json")
        .foreach(p => fs.delete(new Path(p), /* recursive */ true))
      EncodeJob.run(data, cfg)
      return
    }

    val committed = graft.spark.TableMeta.snapshot(spark, outDir).batchIds
    if (committed.isEmpty) { EncodeJob.run(data, cfg); return }

    // append onto live data: schema and layout must match what readers
    // already see — fail loud rather than silently corrupt the dir.
    // Nullability is compared permissively (a non-null projection may
    // append into a nullable table; writeSchemaJson keeps the wider
    // nullability on disk)
    EncodeJob.schemaFromDisk(spark, outDir).foreach { onDisk =>
      require(onDisk.fields.length == data.schema.fields.length &&
          onDisk.fields.zip(data.schema.fields).forall { case (a, b) =>
            a.name == b.name && a.dataType == b.dataType &&
              (a.nullable || !b.nullable) }, // nullable data into a non-null table is the one bad direction
        s"append schema mismatch for $outDir:\n  on disk: $onDisk\n  appending: ${data.schema}")
    }
    require(EncodeJob.isColumnPartitioned(spark, outDir) == cfg.partitionByColumn,
      s"append layout mismatch for $outDir: dir partitionByColumn=" +
        s"${EncodeJob.isColumnPartitioned(spark, outDir)}, write option says ${cfg.partitionByColumn}")

    // the next batch id must ALSO clear every existing part_id: decode
    // groups chunks by (part_id, chunk_id) across batches, and runBatch
    // offsets part_ids by batchId × numPartitions — an append with fewer
    // partitions than an earlier write would otherwise collide.
    // nextBatchAndPart consults manifest rows, compaction records AND
    // orphan batch dirs, so an append right after a compaction (even one
    // whose manifest rows haven't landed yet) can never reuse its id or
    // its part range.
    val (nextBatch, nextPart) = EncodeJob.nextBatchAndPart(spark, outDir)
    val partTerm = if (nextPart <= 0) 0 else (nextPart - 1) / cfg.numPartitions + 1
    val batchId = math.max(nextBatch, partTerm)
    // codecs come from the snapshot's lineage (the table has batches)
    EncodeJob.runBatch(data, cfg, batchId, hadBatches = true)
  }
}

final class GraftScanBuilder(outDir: String, logicalSchema: StructType,
                             asOfBatch: Option[Int] = None,
                             batchOverride: Option[Set[Int]] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  private var required: StructType = logicalSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggSlots: Option[Array[AggSlot]] = None
  private var limit: Int = -1

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Partial limit: each partition stops decoding after `n` rows (Spark
    * keeps the global Limit — isPartiallyPushed stays true). At scale this
    * turns `df.limit(k)` from a full decode into ≤ one chunk per task.
    */
  override def pushLimit(n: Int): Boolean = { limit = n; true }

  /** Ungrouped MIN/MAX/COUNT answered from chunk statistics alone — the
    * stream blobs are never read (parquet projection drops them), so a
    * 100 TB `count(*)`/`min`/`max` costs metadata IO only. Partial
    * pushdown: each chunk contributes one partial row; Spark's final
    * aggregate merges them, so multi-batch/multi-file dirs need no
    * driver-side merge logic here.
    *
    * Refused (→ Spark runs the normal scan) whenever exactness isn't
    * guaranteed by the written stats: GROUP BY (chunks span groups),
    * binary min/max (no value range recorded), SUM (saturating
    * overflow-aware chunk sums can't reproduce Spark's ANSI/wrap overflow
    * semantics), DISTINCT. Double/float min/max ARE pushed: chunk stats
    * exclude NaN from the range but record `nan_count`, which is exactly
    * what Spark's NaN-above-+Inf ordering needs (MAX = NaN iff any NaN;
    * MIN = NaN only when every non-null value is NaN). Directories
    * written before nan_count existed fail loudly in the partial reader
    * rather than answering wrong. Spark itself never offers aggregates
    * here when filters stayed residual, so no interaction with filter
    * pushdown (every graft filter is residual by design).
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (pushed.nonEmpty || aggregation.groupByExpressions().nonEmpty) return false
    val resolved = aggregation.aggregateExpressions().map(AggSlot.from(_, logicalSchema))
    if (resolved.isEmpty || resolved.exists(_.isEmpty)) return false
    aggSlots = Some(resolved.map(_.get))
    true
  }

  /** Accept single-column comparisons the chunk statistics can act on;
    * everything is ALSO returned as residual (pruning keeps supersets —
    * Spark re-applies the exact predicate above the scan).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo(a, v)            => supported(a, v)
      case GreaterThan(a, v)        => supported(a, v)
      case GreaterThanOrEqual(a, v) => supported(a, v)
      case LessThan(a, v)           => supported(a, v)
      case LessThanOrEqual(a, v)    => supported(a, v)
      case In(a, vs)                => vs.nonEmpty && vs.forall(supported(a, _))
      case IsNotNull(a)             => supported(a, "")
      case IsNull(a)                => supported(a, "")
      case _                        => false
    }
    filters
  }
  private def supported(attr: String, v: Any): Boolean =
    v != null && logicalSchema.fields.exists(_.name.equalsIgnoreCase(attr))

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GraftScan(outDir, logicalSchema, required, pushed, aggSlots, limit, asOfBatch,
      batchOverride)
}

/** One pushed aggregate function, resolved at plan time against the
  * logical schema. `kind` ∈ countstar|count|min|max; `column` is the
  * canonical field name (None for countstar); `outType` is the partial
  * row's field type (the column's type for min/max, LongType for counts —
  * exactly what Spark's rewritten final aggregate expects positionally).
  */
final case class AggSlot(kind: String, column: Option[String], outType: DataType)
    extends Serializable

object AggSlot {
  def from(f: AggregateFunc, schema: StructType): Option[AggSlot] = f match {
    case _: CountStar => Some(AggSlot("countstar", None, LongType))
    case c: Count if !c.isDistinct =>
      ref(c.column, schema).map(fd => AggSlot("count", Some(fd.name), LongType))
    case m: Min =>
      ref(m.column, schema).filter(minMaxExact)
        .map(fd => AggSlot("min", Some(fd.name), fd.dataType))
    case m: Max =>
      ref(m.column, schema).filter(minMaxExact)
        .map(fd => AggSlot("max", Some(fd.name), fd.dataType))
    case _ => None
  }

  private def ref(e: org.apache.spark.sql.connector.expressions.Expression,
                  schema: StructType): Option[StructField] = e match {
    case r: NamedReference if r.fieldNames().length == 1 =>
      schema.fields.find(_.name.equalsIgnoreCase(r.fieldNames()(0)))
    case _ => None
  }

  /** Types whose chunk min/max are EXACT under Spark's ordering.
    * Double/float qualify because the writer pairs the NaN-excluding range
    * with a per-chunk `nan_count` (Spark sorts NaN above +Inf; the count
    * reconstructs the exact answer — see GraftAggReader.partialRow).
    * Excluded: binary (length-sum only, no value range); non-binary string
    * collations (chunk order is byte order).
    */
  private def minMaxExact(fd: StructField): Boolean = fd.dataType match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
         TimestampType | TimestampNTZType | BooleanType | StringType |
         DoubleType | FloatType => true
    case _: DecimalType => true
    case _ => false
  }
}

final class GraftScan(outDir: String, logicalSchema: StructType,
                      required: StructType, pushed: Array[Filter],
                      aggSlots: Option[Array[AggSlot]], limit: Int,
                      asOfBatch: Option[Int] = None,
                      batchOverride: Option[Set[Int]] = None)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeV2Filtering
    with SupportsReportOrdering {

  /** Per-partition ordering from the dir's sort claim (layout.json,
    * maintained by the write path: non-empty only when EVERY visible
    * batch was written sortWithinPartitions by exactly these columns).
    * Each input partition is one file (or one zipped column group) read
    * in row order, and pruning/residual filters/limits only ever DROP
    * rows, so the claim survives the scan verbatim. Catalyst uses it to
    * elide per-partition Sorts above the scan. Not reported for
    * aggregate-mode scans (partials have no row order) or time-travel
    * reads (a historical view may include batches that predate the
    * claim).
    */
  override def outputOrdering(): Array[SortOrder] = {
    if (aggSlots.isDefined || asOfBatch.isDefined) return Array.empty
    visibleBatches // pin the snapshot BEFORE vouching for its order
    // the longest claim PREFIX inside the read schema still holds (rows
    // sorted by (a, b) are sorted by (a)); a gap column breaks the chain
    sortClaim.takeWhile(c => required.fields.exists(_.name.equalsIgnoreCase(c)))
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      .toArray
  }

  /** Batch set this scan serves: compaction records applied, optionally
    * rewound to the `asOfBatch` time-travel point. A lazy SNAPSHOT, pinned
    * on first use (logical planning) and reused at execution — the same
    * reason Iceberg/Delta pin a snapshot per scan: outputOrdering is
    * captured at plan time, so the batch set it vouches for must not
    * drift to include a concurrent unsorted append before
    * planInputPartitions runs. Also saves re-listing manifest +
    * compactions on every planning callback.
    */
  private lazy val visibleBatches: Set[Int] = {
    val base = asOfBatch match {
      case Some(n) => EncodeJob.committedBatchesAsOf(spark, outDir, n)
      case None    => EncodeJob.committedBatches(spark, outDir)
    }
    // the override (selective MERGE) can only NARROW the committed set
    batchOverride.fold(base)(_ intersect base)
  }

  /** Sort claim pinned with the same snapshot semantics. */
  private lazy val sortClaim: Seq[String] = EncodeJob.sortColumnsFromDisk(spark, outDir)

  /** Join-driven runtime pruning (DPP's DataSource V2 form): Spark
    * collects the build side's keys at runtime and hands them back as IN
    * predicates; they drive the same chunk-level min/max + Bloom pruning
    * as statically-pushed filters. Superset-safe — the join re-checks
    * exact keys — so every column is offered. Not offered in aggregate
    * mode (metadata partials can't be filtered).
    */
  override def filterAttributes(): Array[NamedReference] =
    if (aggSlots.isDefined) Array.empty
    else required.fields.map(f => Expressions.column(f.name)) // scan OUTPUT columns (Spark resolves against them)

  private var runtimeFilters: Array[Filter] = Array.empty
  override def filter(predicates: Array[Predicate]): Unit =
    runtimeFilters = org.apache.spark.sql.graftbridge.Bridge.predicatesToV1(predicates)

  /** Manifest-derived stats so Catalyst sizes joins correctly: numRows is
    * exact (committed manifest rows); sizeInBytes is the DECODED bytes of
    * the requested columns (raw manifest bytes × column fraction — the
    * quantity Spark compares against the broadcast threshold). Metadata
    * only, no chunk reads.
    */
  override def estimateStatistics(): Statistics = {
    val committed = visibleBatches
    val snap = graft.spark.TableMeta.snapshot(spark, outDir)
    val perBatch = snap.perBatch
    // a compaction batch is visible the instant its record lands, which
    // can be BEFORE its manifest metrics rows — fall back to the record's
    // own totals so the table never looks empty to the broadcast planner
    val recorded = snap.compactions
      .map(c => c.batch -> (c.rows, c.rawBytes)).toMap
    val (rows, raw) = committed.foldLeft((0L, 0L)) { case ((r, b), batch) =>
      val (dr, db) = perBatch.getOrElse(batch, recorded.getOrElse(batch, (0L, 0L)))
      (r + dr, b + db)
    }
    val colFraction =
      if (logicalSchema.fields.isEmpty) 1.0
      else math.max(1, emitColumns.size).toDouble / logicalSchema.fields.length
    val size = math.max(1L, (raw * colFraction).toLong)
    new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.of(size)
      override def numRows() = java.util.OptionalLong.of(rows)
    }
  }

  // count(*)-style scans still need row cardinality: decode the cheapest
  // written column and project it away (same cost ladder as
  // TableEncoder.decodeColumns's all-missing driver). In aggregate mode
  // the referenced columns' metadata is what gets read (cheapest column's
  // when the push is pure COUNT(*)).
  private val emitColumns: Seq[String] = aggSlots match {
    case Some(slots) =>
      val cols = slots.flatMap(_.column).distinct.toSeq
      if (cols.nonEmpty) cols else Seq(cheapestColumn)
    case None =>
      if (required.fields.nonEmpty) required.fields.map(_.name).toSeq
      else Seq(cheapestColumn)
  }

  private def cheapestColumn: String = {
    val cost = Map("bool" -> 0, "date" -> 1, "long" -> 2, "timestamp" -> 2,
      "timestamp_ntz" -> 2, "decimal" -> 2, "float" -> 3, "double" -> 4,
      "decimal128" -> 5, "string" -> 6, "binary" -> 7)
    allSpecs.minBy(sp => cost.getOrElse(sp.logical, 9)).name
  }

  private def spark = SparkSession.active
  private lazy val allSpecs: Array[ColumnSpec] =
    EncodeJob.specsFromManifest(spark, outDir, logicalSchema)

  /** Streaming offset ceiling: original APPEND batches only. Compaction
    * batches are excluded (their rows were already delivered by the
    * batches they replaced), and replaced batches stay streamable until
    * vacuum — so a running stream sees compaction as a non-event.
    */
  private[source] def maxStreamBatch: Int =
    // include compaction batch ids: a FRESH stream's first range serves
    // the compacted snapshot, so the offset must cover those ids too
    // (batch ids commit in increasing order on every path — monotone)
    (EncodeJob.streamBatches(spark, outDir) ++
      EncodeJob.committedBatches(spark, outDir)).foldLeft(-1)(math.max)

  private[source] def streamVisible: Set[Int] =
    EncodeJob.streamBatches(spark, outDir)

  private[source] def snapshotVisible(asOf: Int): Set[Int] =
    EncodeJob.committedBatchesAsOf(spark, outDir, asOf)

  override def readSchema(): StructType = aggSlots match {
    case Some(slots) => StructType(slots.zipWithIndex.map { case (s, i) =>
      StructField(s"${s.kind}_${s.column.getOrElse("star")}_$i", s.outType, nullable = true)
    }.toIndexedSeq)
    case None => required
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"graft $outDir ReadSchema: ${emitColumns.mkString(",")} " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      aggSlots.fold("")(s => s" PushedAggregates: [${s.map(a =>
        s"${a.kind.toUpperCase}(${a.column.getOrElse("*")})").mkString(", ")}]") +
      (if (limit >= 0) s" PushedLimit: $limit" else "")

  /** Pruning decisions for the current (static + runtime) filter set. */
  private def activePreds: Array[ChunkPrune] = {
    val specs = TableEncoder.subsetSpecs(allSpecs, emitColumns)
    (pushed ++ runtimeFilters).flatMap(ChunkPrune.from(_, specs))
  }

  /** PLAN-time file pruning from the filestats sidecar: a file none of
    * whose chunks passes the predicates is never opened — no footer read,
    * no page IO. Evaluated on the driver by TableMeta against its cached
    * sidecar index, with the same `keepsChunk` the partition reader
    * applies to opened chunks; chunk keep is decided per chunk ACROSS
    * columns, so on the column-partitioned layout a predicate on one
    * column prunes the sibling column files of the same chunks too. Files
    * without sidecar coverage (older dirs) default to kept.
    */
  private def fileKeep(preds: Array[ChunkPrune], committed: Set[Int]): Map[String, Boolean] =
    if (preds.isEmpty) Map.empty
    else graft.spark.TableMeta.fileKeep(spark, outDir, committed, preds.toSeq)

  /** Chunk-file list for `committed` from the filestats SIDECAR — the
    * table's own metadata, indexed on the driver by TableMeta — so scan
    * planning never lists the chunk tree: at 100 TB / millions of files on
    * an object store, an O(files) recursive driver listing per query plan
    * is the Hive-era bottleneck table formats exist to remove. None when
    * any committed batch predates the sidecar (caller falls back to the
    * legacy walk). Cf. the reference's FileTail idea — never list, read
    * the metadata (FileTail.cs:22-54) — lifted from file level to table
    * level.
    */
  private def sidecarChunkFiles(committed: Set[Int])
      : Option[Seq[(Int, Option[String], String)]] =
    graft.spark.TableMeta.sidecarChunkFiles(spark, outDir, committed)

  override def planInputPartitions(): Array[InputPartition] =
    planPartitionsFor(visibleBatches, _ => true)

  /** Batch planning shared by the one-shot scan (visible = committed with
    * compactions/time-travel applied, batchKeep = all) and the
    * micro-batch stream (visible = original append batches, batchKeep =
    * one batch-id range).
    */
  private[source] def planPartitionsFor(committed: Set[Int],
                                        batchKeep: Int => Boolean): Array[InputPartition] = {
    val specs = TableEncoder.subsetSpecs(allSpecs, emitColumns)
    val dir = new Path(EncodeJob.chunkDir(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a schema-only table (CREATE TABLE, nothing inserted yet) has no
    // chunk dir: zero partitions for a row scan; aggregate mode falls
    // through to its identity partial (count 0). A dir with COMMITTED
    // batches but no chunk dir is corruption — fail loudly, never
    // silently serve an empty table
    require(fs.exists(dir) || committed.isEmpty,
      s"$outDir has committed batches ${committed.toSeq.sorted.mkString(",")} " +
        "but no chunk dir — externally deleted?")
    // plan from the table's own metadata (filestats sidecar) whenever
    // every committed batch carries one; the recursive chunk-tree walk is
    // only the legacy-dir fallback — O(files) driver listing per plan is
    // the bottleneck manifests exist to remove
    val files: Seq[(Int, Option[String], String)] =
      sidecarChunkFiles(committed) match {
        case Some(list) => list.filter(f => batchKeep(f._1))
        case None =>
          EncodeJob.chunkTreeWalks.incrementAndGet()
          val buf = scala.collection.mutable.ArrayBuffer[(Int, Option[String], String)]()
          if (fs.exists(dir)) {
            val it = fs.listFiles(dir, /* recursive */ true)
            while (it.hasNext) {
              val f = it.next()
              val p = f.getPath.toString
              if (f.getPath.getName.endsWith(".parquet")) {
                val batch = """batch=(\d+)""".r.findFirstMatchIn(p).map(_.group(1).toInt)
                val column = """column=([^/]+)/""".r.findFirstMatchIn(p).map(_.group(1))
                batch.filter(b => committed.contains(b) && batchKeep(b))
                  .foreach(b => buf += ((b, column, p)))
              }
            }
          }
          buf.toSeq
      }
    val keep = if (aggSlots.isDefined) Map.empty[String, Boolean]
               else fileKeep(activePreds, committed)
    def kept(path: String): Boolean = keep.getOrElse(graft.spark.TableMeta.normPath(path), true)
    if (aggSlots.isDefined) {
      // aggregate mode: chunk groups need no column alignment (each
      // column's metadata row contributes its own partial independently),
      // so one partition per FILE maximizes parallelism; zero files →
      // one identity partition so the final merge still sees count=0.
      // Prefer the filestats SIDECAR files when every committed batch has
      // one: same stat fields, orders of magnitude smaller, and the chunk
      // files themselves are never opened at all.
      val sidecar = graft.spark.TableMeta.sidecarFiles(spark, outDir, committed)
      if (sidecar.nonEmpty)
        return sidecar.map(f =>
          GraftInputPartition(Array(f), Seq.empty): InputPartition).toArray
      // the designated COUNT(*) column's rows must be readable even when
      // it isn't an emit column (post-ALTER dirs)
      val wanted = specs.map(_.name).toSet + aggDesignated(committed)
      val parts: Array[InputPartition] =
        if (files.exists(_._2.isDefined))
          files.filter(f => f._2.exists(wanted.contains)).sortBy(_._3)
            .map(f => GraftInputPartition(Array(f._3), Seq(f._2.get))).toArray
        else files.sortBy(_._3).map(f => GraftInputPartition(Array(f._3), Seq.empty)).toArray
      return if (parts.nonEmpty) parts
             else Array[InputPartition](GraftInputPartition(Array.empty, Seq.empty))
    }
    val specNames = specs.map(_.name).toSet
    // schema-evolution drivers: a batch that wrote NONE of the requested
    // columns still owes one all-null row per written row — its cheapest
    // column drives the row count (the decode null-fills the rest)
    val driverByBatch: Map[Int, String] =
      files.iterator.map(_._1).toSet.iterator
        .filter(b => batchLacksAll(b, specNames))
        .flatMap(b => driverColumnFor(b).map(b -> _)).toMap
    if (files.exists(_._2.isDefined)) {
      // column-partitioned layout: group the per-column files of one
      // writer task (same part-NNNNN file index within a batch) and open
      // ONLY the requested columns' files — scan IO ∝ requested columns
      val wanted = specNames
      files.filter(f => f._2.exists(c =>
          wanted.contains(c) || driverByBatch.get(f._1).contains(c)))
        .groupBy(f => (f._1, taskIndexOf(f._3)))
        // whole-GROUP pruning: sidecar chunk-keep is decided across
        // columns, so a pruned predicate-column file means every sibling
        // column file of those chunks is dead too — dropping the group
        // keeps the zip invariant intact
        .filter { case (_, group) => group.forall(g => kept(g._3)) }
        .toArray.sortBy(_._1)
        .map { case ((b, _), group) =>
          val byCol = group.map(g => g._2.get -> g._3).toMap
          require(byCol.keySet.subsetOf(wanted ++ driverByBatch.get(b)),
            s"column-partitioned group carries unrequested files ${byCol.keySet -- wanted}")
          // spec order keeps the zip deterministic; columns a batch lacks
          // (added by a later ALTER) are absent here and null-filled in
          // the decode. A driver-only group (the batch wrote none of the
          // requested columns) zips just the driver file.
          val present = allSpecs.filter(s => byCol.contains(s.name))
          GraftInputPartition(present.map(s => byCol(s.name)), present.map(_.name).toSeq)
        }
    } else files.toArray.sortBy(_._3).filter(f => kept(f._3))
      .map(f => GraftInputPartition(Array(f._3), Seq.empty, driverByBatch.get(f._1)))
  }

  private def taskIndexOf(path: String): String = {
    // part-00007-<uuid>....parquet → 00005 (one file per writer task per
    // column dir; the shared task index is the alignment key)
    val name = new Path(path).getName
    name.split('-').lift(1).getOrElse(name)
  }

  private val typeCost = Map("bool" -> 0, "date" -> 1, "long" -> 2, "timestamp" -> 2,
    "timestamp_ntz" -> 2, "decimal" -> 2, "float" -> 3, "double" -> 4,
    "decimal128" -> 5, "string" -> 6, "binary" -> 7)

  /** Per-batch written column sets, from the manifest's codec lineage
    * ("col=CODEC,..." per batch) — batches written before an ALTER TABLE
    * ADD COLUMN carry fewer columns than the current schema. One tiny
    * driver-side manifest read per scan instance (the same cost class as
    * the visibility read); empty map when no manifest exists.
    */
  private lazy val batchColumns: Map[Int, Set[String]] =
    graft.spark.TableMeta.snapshot(spark, outDir).batchColumns

  /** True iff batch `b` provably wrote none of `cols` (schema-evolution
    * read hitting a pre-ALTER batch) — unknown lineage keeps false.
    */
  private def batchLacksAll(b: Int, cols: Set[String]): Boolean =
    batchColumns.get(b).exists(bc => cols.forall(c => !bc.contains(c)))

  /** Cheapest column of batch `b` to drive row counts when none of the
    * requested columns exist there (the decode null-fills the rest).
    */
  private def driverColumnFor(b: Int): Option[String] =
    batchColumns.get(b).filter(_.nonEmpty).map { bc =>
      allSpecs.filter(s => bc.contains(s.name))
        .minByOption(s => typeCost.getOrElse(s.logical, 9)).map(_.name)
        .getOrElse(bc.head)
    }

  /** COUNT(*) contributions must arrive exactly once per chunk, via rows
    * of ONE designated column — which must exist in EVERY visible batch
    * (post-ALTER batches carry more columns than older ones). The
    * original CREATE columns are in every batch, so the intersection is
    * never empty on a consistent dir; prefer an emit column (its rows
    * are read anyway), else the cheapest intersecting column.
    */
  private def aggDesignated(committed: Set[Int]): String = {
    val inter = committed.toSeq.flatMap(batchColumns.get)
      .reduceOption(_ intersect _)
      .getOrElse(allSpecs.map(_.name).toSet)
    emitColumns.find(inter.contains).getOrElse {
      allSpecs.filter(s => inter.contains(s.name))
        .minByOption(s => typeCost.getOrElse(s.logical, 9)).map(_.name)
        .getOrElse(emitColumns.head)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val specs = TableEncoder.subsetSpecs(allSpecs, emitColumns)
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    aggSlots match {
      case Some(slots) =>
        GraftAggReaderFactory(slots, aggDesignated(visibleBatches), specs, conf)
      case None =>
        GraftReaderFactory(specs, required.fields.isEmpty, activePreds, limit, conf)
    }
  }

  /** `spark.readStream.format("graft").load(outDir)` — committed encode
    * batches become micro-batches. The manifest commit is the only thing
    * that makes a batch visible (the same atomicity the batch reader
    * relies on), and batch ids commit in increasing order on every write
    * path (append chooses max+1; runBatch replays only uncommitted ids
    * in order), so `max committed id` is a valid monotone offset and each
    * (start, end] range is read exactly once. Pushed filters keep their
    * chunk-level pruning; aggregates are never pushed on streams.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // loud, not silent: time travel has no meaning for a live stream
    require(asOfBatch.isEmpty,
      "asOfBatch is a batch-read option; streams always follow the live append log")
    new GraftMicroBatchStream(this)
  }

  private[source] def chunkBatchDirExists(b: Int): Boolean = {
    val p = new Path(EncodeJob.chunkBatchDir(outDir, b))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

/** Offset = highest committed batch id read so far (-1 = nothing). */
final case class GraftBatchOffset(maxBatch: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"batch":$maxBatch}"""
}

final class GraftMicroBatchStream(scan: GraftScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GraftBatchOffset(-1)
  override def latestOffset(): Offset = GraftBatchOffset(scan.maxStreamBatch)
  override def deserializeOffset(json: String): Offset =
    GraftBatchOffset("""-?\d+""".r.findFirstIn(json).getOrElse(
      throw new IllegalArgumentException(s"bad graft offset: $json")).toInt)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftBatchOffset].maxBatch
    val e = end.asInstanceOf[GraftBatchOffset].maxBatch
    // a FRESH stream (start = initial offset) serves the COMPACTED
    // snapshot as of `e` — each current row exactly once even when the
    // original append batches were compacted away and vacuumed; later
    // ranges (s >= 0) serve only original append batches, never
    // compaction batches (whose rows some earlier range already carried)
    val visible = if (s < 0) scan.snapshotVisible(e) else scan.streamVisible
    // a stream lagging behind a compact+vacuum must FAIL, not silently
    // deliver zero rows: the batches it still owes were physically
    // deleted (batch readers are unaffected — they serve the compaction)
    val vacuumed = visible.filter(b => b > s && b <= e)
      .filterNot(scan.chunkBatchDirExists)
    require(vacuumed.isEmpty,
      s"stream needs batches ${vacuumed.toSeq.sorted.mkString(",")} which were " +
        "compacted away and vacuumed — batch-read the compacted table or start a " +
        "FRESH stream (new checkpoint), which serves the compacted snapshot instead")
    scan.planPartitionsFor(visible, b => b > s && b <= e)
  }
  override def createReaderFactory(): PartitionReaderFactory = scan.createReaderFactory()
  override def commit(offset: Offset): Unit = () // batches are immutable once committed
  override def stop(): Unit = ()
}

final case class GraftInputPartition(files: Array[String], columns: Seq[String],
                                     // row-count driver for schema-evolution
                                     // reads: a column decoded ONLY to keep
                                     // pre-ALTER batches' rows present when
                                     // none of the requested columns exist
                                     // there (all values null-filled)
                                     driver: Option[String] = None)
    extends InputPartition

/** The chunk metadata a pruning decision reads: a view of an
  * EncodedChunk (row side, after the file is open) or of a filestats
  * sidecar row (plan side, before anything is opened). The Bloom filter
  * is deserialised on first use and at most once per view, so the
  * driver's sidecar index pays it once per committed batch.
  */
final class ChunkStats(val min_val: Option[String], val max_val: Option[String],
                       val null_count: Int, val row_count: Int, val nan_count: Option[Int],
                       bloomBytes: Option[Array[Byte]]) {
  lazy val bloom: Option[graft.core.Bloom] =
    bloomBytes.map(b => graft.core.Bloom.deserializeTagged(b)._2)
}

object ChunkStats {
  def of(c: EncodedChunk): ChunkStats =
    new ChunkStats(c.min_val, c.max_val, c.null_count, c.row_count, c.nan_count, c.bloom)
}

/** A chunk-level pruning decision derived from one pushed Filter. All
  * implementations are conservative (keep on any doubt) — correctness
  * comes from Spark re-applying the exact residual filter above the scan.
  * `keepsChunk` is the ONE keep implementation: the partition reader
  * applies it to each opened chunk, and the driver applies it at plan
  * time to the sidecar index (TableMeta) for file and batch pruning.
  */
sealed trait ChunkPrune extends Serializable {
  def column: String
  def keepsChunk(c: ChunkStats): Boolean
  /** Sub-chunk stride-skip bounds in the stride index's long space, when
    * this predicate can drive one.
    */
  def strideBounds: Option[(Long, Long)] = None
}

/** IsNotNull: an all-null chunk can contribute no matching rows. */
final case class NotNullPrune(column: String) extends ChunkPrune {
  override def keepsChunk(c: ChunkStats): Boolean = c.null_count < c.row_count
}

/** IsNull: a null-free chunk can contribute no matching rows. */
final case class NullOnlyPrune(column: String) extends ChunkPrune {
  override def keepsChunk(c: ChunkStats): Boolean = c.null_count > 0
}

/** In(col, values): keep the chunk if ANY value might be present —
  * per-value min/max range + bloom probes, OR-combined.
  */
final case class AnyOfPrune(column: String, alts: Array[PrunePred]) extends ChunkPrune {
  override def keepsChunk(c: ChunkStats): Boolean = alts.exists(_.keepsChunk(c))
}

/** One pushed comparison, pre-resolved on the driver into the spaces the
  * chunk metadata speaks: the stat-string space for chunk-level min/max,
  * the stride long space for the sub-chunk row index, and the Bloom hash
  * pair for equality probes. Conservative everywhere: un-parseable stats
  * or absent metadata keep the chunk.
  */
final case class PrunePred(column: String, logical: String,
                           loLong: Long, hiLong: Long, longUsable: Boolean,
                           loDouble: Double, hiDouble: Double, doubleUsable: Boolean,
                           loStr: Option[String], hiStr: Option[String],
                           strideLo: Long, strideHi: Long, strideUsable: Boolean,
                           bloomH1: Long, bloomH2: Long, bloomUsable: Boolean,
                           nanKeeps: Boolean = false)
    extends ChunkPrune {

  override def strideBounds: Option[(Long, Long)] =
    if (strideUsable) Some((strideLo, strideHi)) else None

  /** Chunk min/max (and stride indexes) EXCLUDE NaN — nan_count records
    * them. Spark orders NaN above every value (nanSafeCompareDoubles), so
    * a predicate whose match set can contain NaN (`x > v`, `x >= v`,
    * `x = NaN`) must keep any chunk that may hold NaN rows, no matter
    * what the NaN-free range says. Absent nan_count (pre-sidecar chunks)
    * keeps — conservative.
    */
  private def nanMayMatch(c: ChunkStats): Boolean =
    nanKeeps && c.nan_count.forall(_ > 0)

  def keepsChunk(c: ChunkStats): Boolean = {
    if (nanMayMatch(c)) return true
    val byRange =
      if (longUsable) overlap(c, _.toLong, loLong, hiLong)(Ordering.Long)
      // ±0.0 canonicalized on BOTH sides: stats render via Double.toString
      // (can emit "-0.0"), TotalOrdering puts -0.0 < 0.0, but SQL compares
      // -0.0 == 0.0 — without the `+ 0.0` a pushed `x >= 0.0` would prune
      // a chunk whose max is -0.0 (mirrors doubleSortableBits).
      else if (doubleUsable)
        overlap(c, s => s.toDouble + 0.0, loDouble + 0.0, hiDouble + 0.0)(Ordering.Double.TotalOrdering)
      else if (loStr.isDefined || hiStr.isDefined) {
        def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        overlap(c, u, u(loStr.getOrElse("")), hiStr.map(u).orNull)(
          Ordering.comparatorToOrdering(
            java.util.Comparator.naturalOrder[org.apache.spark.unsafe.types.UTF8String]()))
      } else true
    val byBloom = !bloomUsable || c.bloom.forall(_.mightContain(bloomH1, bloomH2))
    byRange && byBloom
  }

  /** Chunk [min,max] vs [lo,hi] in a parsed space; any parse failure or
    * absent stat keeps the chunk. hi == null means +∞ (open above).
    */
  private def overlap[T](c: ChunkStats, parse: String => T, lo: T, hi: T)
                        (implicit ord: Ordering[T]): Boolean =
    try {
      val below = hi != null && c.min_val.exists(m => ord.gt(parse(m), hi))
      val above = c.max_val.exists(m => ord.lt(parse(m), lo))
      !(below || above)
    } catch { case _: Exception => true }
}

object ChunkPrune {
  /** Resolve a source Filter into a chunk-pruning decision; None when the
    * stat space can't act on it (still correct — the filter stays
    * residual above the scan).
    */
  def from(f: Filter, specs: Array[ColumnSpec]): Option[ChunkPrune] = f match {
    case IsNotNull(a) =>
      specs.find(_.name.equalsIgnoreCase(a)).map(s => NotNullPrune(s.name))
    case IsNull(a) =>
      specs.find(_.name.equalsIgnoreCase(a)).map(s => NullOnlyPrune(s.name))
    case In(a, vs) if vs.nonEmpty =>
      // all alternatives must resolve, else the disjunction is unsound
      val alts = vs.map(v => PrunePred.from(EqualTo(a, v), specs))
      if (alts.forall(_.isDefined)) Some(AnyOfPrune(alts.head.get.column, alts.map(_.get)))
      else None
    case _ => PrunePred.from(f, specs)
  }
}

object PrunePred {
  /** Resolve a single comparison against the written spec; None when the
    * column's stat space can't act on the value type (still correct —
    * the filter stays residual).
    */
  def from(f: Filter, specs: Array[ColumnSpec]): Option[PrunePred] = {
    val (attr, v, lo, hi) = f match {
      case EqualTo(a, x)            => (a, x, true, true)
      case GreaterThan(a, x)        => (a, x, true, false)
      case GreaterThanOrEqual(a, x) => (a, x, true, false)
      case LessThan(a, x)           => (a, x, false, true)
      case LessThanOrEqual(a, x)    => (a, x, false, true)
      case _                        => return None
    }
    val spec = specs.find(_.name.equalsIgnoreCase(attr)).getOrElse(return None)
    val eq = lo && hi

    def longPred(value: Long, h: Option[(Long, Long)]): PrunePred =
      PrunePred(spec.name, spec.logical,
        if (lo) value else Long.MinValue, if (hi) value else Long.MaxValue, longUsable = true,
        0, 0, doubleUsable = false, None, None,
        if (lo) value else Long.MinValue, if (hi) value else Long.MaxValue, strideUsable = true,
        h.map(_._1).getOrElse(0L), h.map(_._2).getOrElse(0L), bloomUsable = h.isDefined)

    spec.logical match {
      case "long" =>
        val value = v match {
          case n: Long => n; case n: Int => n.toLong; case n: Short => n.toLong
          case n: Byte => n.toLong; case _ => return None
        }
        Some(longPred(value, if (eq) Some(graft.core.Bloom.hashPairLong(value)) else None))
      case "date" =>
        val days = v match {
          case d: java.sql.Date       => d.toLocalDate.toEpochDay
          case d: java.time.LocalDate => d.toEpochDay
          case _                      => return None
        }
        Some(longPred(days, None))
      case "timestamp" | "timestamp_ntz" =>
        val micros = v match {
          case t: java.sql.Timestamp      => DateTimeUtils.fromJavaTimestamp(t)
          case t: java.time.Instant       => DateTimeUtils.instantToMicros(t)
          case t: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(t)
          case _                          => return None
        }
        Some(longPred(micros, None))
      case "decimal" =>
        val mantissa = v match {
          case d: java.math.BigDecimal =>
            val sc = spec.narrow.split(',')(1).toInt
            try d.setScale(sc).unscaledValue().longValueExact()
            catch { case _: ArithmeticException => return None }
          case _ => return None
        }
        Some(longPred(mantissa, None))
      case "double" | "float" =>
        val value = v match {
          case d: Double => d; case d: Float => d.toDouble; case _ => return None
        }
        // stride bits mirror decodePrunedDouble: signed-zero lo widened,
        // float bounds rounded outward to enclosing representables
        val (sLo, sHi) =
          if (spec.logical == "double")
            (if (lo && value == 0.0) -1L
             else if (lo) TableEncoder.doubleSortableBits(value) else Long.MinValue,
             if (hi) TableEncoder.doubleSortableBits(value) else Long.MaxValue)
          else {
            var lf = value.toFloat; if (lf.toDouble > value) lf = Math.nextDown(lf)
            var hf = value.toFloat; if (hf.toDouble < value) hf = Math.nextUp(hf)
            (if (lo && lf == 0.0f) -1L
             else if (lo) TableEncoder.floatSortableBits(lf) else Long.MinValue,
             if (hi) TableEncoder.floatSortableBits(hf) else Long.MaxValue)
          }
        // the predicate's match set can contain NaN when it's unbounded
        // above (GreaterThan[OrEqual] — Spark orders NaN above +Inf, so
        // NaN rows satisfy `x > v`) or when the literal itself is NaN
        // (NaN = NaN is TRUE in Spark SQL)
        Some(PrunePred(spec.name, spec.logical, 0, 0, longUsable = false,
          if (lo) value else Double.NegativeInfinity,
          if (hi) value else Double.PositiveInfinity, doubleUsable = true,
          None, None, sLo, sHi, strideUsable = true, 0, 0, bloomUsable = false,
          nanKeeps = !hi || value.isNaN))
      case "string" =>
        val s = v match { case x: String => x; case _ => return None }
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val h = if (eq) Some(graft.core.Bloom.hashPair(bytes)) else None
        Some(PrunePred(spec.name, spec.logical, 0, 0, longUsable = false,
          0, 0, doubleUsable = false,
          if (lo) Some(s) else Some(""), if (hi) Some(s) else None,
          if (lo) TableEncoder.stringPrefixFloor(bytes) else Long.MinValue,
          if (hi) TableEncoder.stringPrefixCeil(bytes) else Long.MaxValue,
          strideUsable = true,
          h.map(_._1).getOrElse(0L), h.map(_._2).getOrElse(0L), bloomUsable = h.isDefined))
      case "binary" if eq =>
        val bytes = v match { case b: Array[Byte] => b; case _ => return None }
        val (h1, h2) = graft.core.Bloom.hashPair(bytes)
        Some(PrunePred(spec.name, spec.logical, 0, 0, longUsable = false,
          0, 0, doubleUsable = false, None, None,
          0, 0, strideUsable = false, h1, h2, bloomUsable = true))
      case _ => None
    }
  }
}

/** Hadoop Configuration is not Serializable; standard write/readFields
  * envelope.
  */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
  }
}

final case class GraftReaderFactory(specs: Array[ColumnSpec], emitEmptyRows: Boolean,
                                    preds: Array[ChunkPrune], limit: Int,
                                    conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftInputPartition], specs,
      emitEmptyRows, preds, limit, conf.value)
}

final case class GraftAggReaderFactory(slots: Array[AggSlot], designated: String,
                                       specs: Array[ColumnSpec], conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftAggPartitionReader(partition.asInstanceOf[GraftInputPartition], slots,
      designated, specs, conf.value)
}

/** Metadata-only partial aggregates: reads each chunk file with a parquet
  * projection that DROPS the stream blobs (`streams`, `seg_lens`, stride
  * arrays are never read — IO is a few stat fields per chunk), then emits
  * one partial row per chunk metadata record. No alignment or grouping:
  * each column's record fills only its own slots (other slots null, which
  * Spark's merging MIN/SUM ignore), and row_count flows exactly once per
  * chunk via the designated column. An empty-file partition emits the
  * merge identity (counts 0, min/max null) so `count(*)` over an empty
  * table is 0, not null.
  */
final class GraftAggPartitionReader(part: GraftInputPartition, slots: Array[AggSlot],
                                    designated: String, specs: Array[ColumnSpec],
                                    conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val colPart = part.columns.nonEmpty
  // designated may fall outside the emit specs on post-ALTER dirs (it
  // must exist in EVERY batch; emit columns need not)
  private val wanted = specs.map(_.name).toSet + designated
  private val specByName = specs.map(s => s.name -> s).toMap
  private val metaFields = Set("column", "row_count", "null_count", "min_val", "max_val", "nan_count")

  private val reader: ParquetReader[Group] =
    if (part.files.isEmpty) null
    else {
      val f = part.files(0)
      val c = new Configuration(conf)
      // projection from the FILE's own schema (types/repetitions match by
      // construction, and fields absent in older files are simply dropped)
      val in = HadoopInputFile.fromPath(new Path(f), c)
      val fr = ParquetFileReader.open(in)
      val fileSchema = try fr.getFooter.getFileMetaData.getSchema finally fr.close()
      val kept = fileSchema.getFields.asScala.filter(fd => metaFields(fd.getName))
      c.set(ReadSupport.PARQUET_READ_SCHEMA, new MessageType(fileSchema.getName, kept.asJava).toString)
      val b = ParquetReader.builder(new GroupReadSupport(), new Path(f)).withConf(c)
      (if (colPart) b
       else b.withFilter(FilterCompat.get(
         (specs.map(_.name).toSet + designated).toSeq
           .map(n => FilterApi.eq(FilterApi.binaryColumn("column"),
             Binary.fromString(n)): FilterPredicate)
           .reduce(FilterApi.or)))).build()
    }

  private val proj = UnsafeProjection.create(slots.map(_.outType))
  private var current: InternalRow = _
  private var emittedIdentity = false

  override def next(): Boolean = {
    if (reader == null) {
      if (emittedIdentity) return false
      emittedIdentity = true
      val row = new GenericInternalRow(slots.length)
      var i = 0
      while (i < slots.length) {
        if (slots(i).kind == "countstar" || slots(i).kind == "count") row.update(i, 0L)
        i += 1
      }
      current = proj(row)
      return true
    }
    var g = reader.read()
    while (g != null) {
      val colName =
        if (colPart) part.columns.head
        else if (g.getFieldRepetitionCount("column") > 0) g.getString("column", 0) else null
      if (colName != null && wanted.contains(colName)) {
        current = proj(partialRow(g, colName))
        return true
      }
      g = reader.read()
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = if (reader != null) reader.close()

  private def partialRow(g: Group, colName: String): InternalRow = {
    val rowCount = g.getInteger("row_count", 0).toLong
    val nullCount = g.getInteger("null_count", 0).toLong
    def stat(name: String): Option[String] =
      if (g.getType.containsField(name) && g.getFieldRepetitionCount(name) > 0)
        Some(g.getString(name, 0))
      else None
    val row = new GenericInternalRow(slots.length)
    var i = 0
    while (i < slots.length) {
      val s = slots(i)
      s.kind match {
        case "countstar" => if (colName == designated) row.update(i, rowCount)
        case "count"     => if (s.column.contains(colName)) row.update(i, rowCount - nullCount)
        case "min" | "max" =>
          if (s.column.contains(colName)) {
            val spec = specByName(colName)
            val fp = spec.logical == "double" || spec.logical == "float"
            // double/float: the range excludes NaN; nan_count restores
            // exactness under Spark's NaN-above-+Inf ordering. A directory
            // written before nan_count existed can't answer exactly — fail
            // loudly (same contract as the missing-stats require below).
            val nanCnt: Long =
              if (!fp) 0L
              else {
                require(g.getType.containsField("nan_count"),
                  s"chunks lack nan_count for $colName (older engine?) — " +
                    "double/float aggregate pushdown cannot answer exactly on this directory")
                if (g.getFieldRepetitionCount("nan_count") > 0) g.getInteger("nan_count", 0).toLong
                else 0L
              }
            def nan: Any = s.outType match {
              case FloatType => Float.NaN
              case _         => Double.NaN
            }
            if (s.kind == "max" && nanCnt > 0) row.update(i, nan)
            else stat(if (s.kind == "min") "min_val" else "max_val") match {
              case Some(v) => row.update(i, statToInternal(v, spec, s.outType))
              case None if nanCnt > 0 =>
                // every non-null value is NaN: min and max are both NaN
                row.update(i, nan)
              case None =>
                // all-null chunk contributes nothing; stats missing on a
                // value-bearing chunk would mean a silently wrong answer
                require(nullCount == rowCount,
                  s"chunk lacks ${s.kind} stats for $colName (older engine?) — " +
                    "aggregate pushdown cannot answer exactly on this directory")
            }
          }
        case _ =>
      }
      i += 1
    }
    row
  }

  /** Stat string → Catalyst internal value in the declared output type's
    * space. Inverse of each ColBuf's minMax rendering: long-family stats
    * are the raw long (micros / epoch-day / mantissa), decimal128 is a
    * plain decimal string, bool is 0/1.
    */
  private def statToInternal(stat: String, spec: ColumnSpec, outType: DataType): Any =
    spec.logical match {
      case "long" => outType match {
        case LongType    => stat.toLong
        case IntegerType => stat.toLong.toInt
        case ShortType   => stat.toLong.toShort
        case ByteType    => stat.toLong.toByte
        case other       => throw new IllegalStateException(s"long stat for $other")
      }
      case "date"                        => stat.toLong.toInt
      case "timestamp" | "timestamp_ntz" => stat.toLong
      case "decimal" =>
        val dt = outType.asInstanceOf[DecimalType]
        org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(java.math.BigInteger.valueOf(stat.toLong), dt.scale),
          dt.precision, dt.scale)
      case "decimal128" =>
        val dt = outType.asInstanceOf[DecimalType]
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(stat), dt.precision, dt.scale)
      case "string" => UTF8String.fromString(stat)
      case "bool"   => stat == "1"
      case "double" => stat.toDouble
      case "float"  => stat.toFloat
      case other    => throw new IllegalStateException(s"no exact agg stats for $other")
    }
}

/** Decodes one partition's chunk files back to logical rows: parquet-mr
  * record iteration (with a record filter so other columns' rows are
  * skipped), adjacency/zip grouping into chunk groups, chunk-level
  * stat+bloom pruning, then the same UnsafeRow decode core the DataFrame
  * read paths use, re-typed to the logical schema by a codegen'd
  * projection (micros→timestamp and UTF-8→string are layout reinterprets;
  * mantissa→decimal via MakeDecimal; long→int-family casts).
  */
final class GraftPartitionReader(part: GraftInputPartition, specs: Array[ColumnSpec],
                                 emitEmptyRows: Boolean, preds: Array[ChunkPrune],
                                 limit: Int, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val columnPartitioned = part.columns.nonEmpty
  private val readers: Array[ParquetReader[Group]] = part.files.zipWithIndex.map {
    case (f, i) =>
      val b = ParquetReader.builder(new GroupReadSupport(), new Path(f)).withConf(conf)
      // row-grouped layout: push `column IN (requested)` into parquet so
      // other columns' records never assemble (dictionary/column-index
      // pruning applies); column-partitioned files hold one column only
      (if (columnPartitioned) b
       else b.withFilter(FilterCompat.get(columnNameFilter))).build()
  }
  private def columnNameFilter: FilterPredicate =
    (specs.map(_.name) ++ part.driver)
      .map(n => FilterApi.eq(FilterApi.binaryColumn("column"),
        Binary.fromString(n)): FilterPredicate)
      .reduce(FilterApi.or)

  private val writer = new UnsafeRowWriter(specs.length)
  private val toLogical: UnsafeProjection = {
    val exprs: Seq[Expression] = specs.zipWithIndex.map { case (s, i) =>
      def bound(dt: DataType) = BoundReference(i, dt, nullable = true)
      s.logical match {
        case "timestamp"     => bound(TimestampType)     // micros reinterpret
        case "timestamp_ntz" => bound(TimestampNTZType)  // micros reinterpret
        case "date"          => Cast(bound(LongType), IntegerType) // DateType stores int days
        case "long" if s.narrow.nonEmpty =>
          Cast(bound(LongType), s.narrow match {
            case "int" => IntegerType
            case "short" => org.apache.spark.sql.types.ShortType
            case _ => org.apache.spark.sql.types.ByteType
          })
        case "long" => bound(LongType)
        case "decimal" =>
          val Array(p, sc) = s.narrow.split(',').map(_.toInt)
          MakeDecimal(bound(LongType), p, sc, nullOnOverflow = false)
        case "string"     => bound(StringType) // UTF-8 bytes reinterpret
        case "decimal128" =>
          val Array(p, sc) = s.narrow.split(',').map(_.toInt)
          bound(DecimalType(p, sc))
        case "bool"   => bound(org.apache.spark.sql.types.BooleanType)
        case "double" => bound(org.apache.spark.sql.types.DoubleType)
        case "float"  => bound(org.apache.spark.sql.types.FloatType)
        case "fvec"   => // IEEE-LE payload → array<float>, codegen'd
          graft.plans.BytesToFloatVec(bound(org.apache.spark.sql.types.BinaryType))
        case _        => bound(org.apache.spark.sql.types.BinaryType)
      }
    }.toSeq
    UnsafeProjection.create(if (emitEmptyRows) Seq.empty[Expression] else exprs)
  }

  /** Stride-skip bounds from EVERY pushed predicate (keep-sets intersect
    * in strideKeepFor — a two-column conjunction skips the union of what
    * each predicate alone would). NaN-matchable predicates are marked
    * nanBlockable: strideKeepFor only lets them skip strides of chunks
    * proven NaN-free (the stride index excludes NaN).
    */
  private val stridePrunes: Seq[TableEncoder.StridePrune] =
    preds.toSeq.flatMap {
      case p: PrunePred =>
        p.strideBounds.map(b =>
          TableEncoder.StridePrune(p.column, b._1, b._2, nanBlockable = p.nanKeeps))
      case p => p.strideBounds.map(b => TableEncoder.StridePrune(p.column, b._1, b._2))
    }

  private var pendingFirst: Option[Group] = None // row-grouped lookahead
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _
  private var emitted = 0L

  override def next(): Boolean = {
    // pushed partial limit: stop decoding (and opening further chunks)
    // once this partition has produced its quota — Spark's global Limit
    // trims the cross-partition total
    if (limit >= 0 && emitted >= limit) return false
    while (!rows.hasNext) {
      val group = nextGroup()
      if (group == null) return false
      if (preds.forall(p => group.get(p.column).forall(c => p.keepsChunk(ChunkStats.of(c)))))
        rows = TableEncoder.decodeChunkInternalRows(
          group.map { case (k, v) => k -> v }, specs, writer, stridePrunes)
    }
    current = toLogical(rows.next())
    emitted += 1
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = readers.foreach(_.close())

  /** Next complete chunk group, or null at end of partition. */
  private def nextGroup(): Map[String, EncodedChunk] =
    if (columnPartitioned) {
      // zip: one record per column file, aligned by writer-task order
      val first = readers(0).read()
      if (first == null) {
        require(readers.drop(1).forall(_.read() == null),
          "column files misaligned: trailing chunks in a sibling column file")
        null
      } else {
        val chunks = new Array[EncodedChunk](specs.length)
        chunks(0) = ChunkGroupParser.parse(first, Some(part.columns.head))
        var i = 1
        while (i < readers.length) {
          val g = readers(i).read()
          require(g != null, s"column file for ${part.columns(i)} ended early")
          chunks(i) = ChunkGroupParser.parse(g, Some(part.columns(i)))
          require(chunks(i).part_id == chunks(0).part_id &&
            chunks(i).chunk_id == chunks(0).chunk_id,
            s"column files misaligned at (${chunks(0).part_id},${chunks(0).chunk_id}) " +
              s"vs (${chunks(i).part_id},${chunks(i).chunk_id}) — use EncodeJob.readBack")
          i += 1
        }
        chunks.map(c => c.column -> c).toMap
      }
    } else {
      // adjacency: requested columns of one (part_id, chunk_id) are
      // consecutive (writer invariant; other columns are filtered out by
      // the parquet record filter)
      val first = pendingFirst.orElse(Option(readers(0).read())).orNull
      pendingFirst = None
      if (first == null) null
      else {
        val acc = scala.collection.mutable.Map[String, EncodedChunk]()
        val head = ChunkGroupParser.parse(first, None)
        acc(head.column) = head
        var done = false
        while (acc.size < specs.length && !done) {
          val g = readers(0).read()
          if (g == null) done = true
          else {
            val c = ChunkGroupParser.parse(g, None)
            // repeated column = the next duplicate group begins (defensive;
            // EncodeJob-written files never duplicate keys within a file)
            if (c.part_id == head.part_id && c.chunk_id == head.chunk_id &&
                !acc.contains(c.column)) acc(c.column) = c
            else { pendingFirst = Some(g); done = true }
          }
        }
        // columns the chunk lacks are ones added by a later ALTER TABLE
        // ADD COLUMN — the decode null-fills them (typed nulls)
        acc.toMap
      }
    }
}

/** parquet-mr Group → EncodedChunk, tolerant of missing fields (older
  * engine versions) exactly like EncodeJob.withChunkSchema's null-fill.
  */
object ChunkGroupParser {
  def parse(g: Group, partitionColumn: Option[String]): EncodedChunk = {
    def has(name: String): Boolean =
      g.getType.containsField(name) && g.getFieldRepetitionCount(name) > 0
    def optString(name: String): Option[String] =
      if (has(name)) Some(g.getString(name, 0)) else None
    def optLong(name: String): Option[Long] =
      if (has(name)) Some(g.getLong(name, 0)) else None
    def longList(name: String): Option[Seq[Long]] =
      if (!has(name)) None
      else {
        val lst = g.getGroup(name, 0)
        val n = lst.getFieldRepetitionCount("list")
        Some((0 until n).map(i => lst.getGroup("list", i).getLong("element", 0)))
      }
    def intList(name: String): Option[Seq[Int]] =
      if (!has(name)) None
      else {
        val lst = g.getGroup(name, 0)
        val n = lst.getFieldRepetitionCount("list")
        Some((0 until n).map(i => lst.getGroup("list", i).getInteger("element", 0)))
      }
    val streams: Map[String, Array[Byte]] =
      if (!has("streams")) Map.empty
      else {
        val m = g.getGroup("streams", 0)
        val n = m.getFieldRepetitionCount("key_value")
        (0 until n).map { i =>
          val kv = m.getGroup("key_value", i)
          val bytes =
            if (kv.getFieldRepetitionCount("value") > 0) kv.getBinary("value", 0).getBytes
            else Array.empty[Byte]
          kv.getString("key", 0) -> bytes
        }.toMap
      }
    val segLens: Option[Map[String, Seq[Int]]] =
      if (!has("seg_lens")) None
      else {
        val m = g.getGroup("seg_lens", 0)
        val n = m.getFieldRepetitionCount("key_value")
        Some((0 until n).map { i =>
          val kv = m.getGroup("key_value", i)
          val lens =
            if (kv.getFieldRepetitionCount("value") == 0) Seq.empty[Int]
            else {
              val lst = kv.getGroup("value", 0)
              (0 until lst.getFieldRepetitionCount("list"))
                .map(j => lst.getGroup("list", j).getInteger("element", 0))
            }
          kv.getString("key", 0) -> lens
        }.toMap)
      }
    EncodedChunk(
      part_id = g.getInteger("part_id", 0),
      chunk_id = g.getInteger("chunk_id", 0),
      first_row = g.getLong("first_row", 0),
      column = partitionColumn.orElse(optString("column")).getOrElse(
        throw new IllegalArgumentException("chunk row lacks a column name")),
      codec = optString("codec").getOrElse(""),
      row_count = g.getInteger("row_count", 0),
      null_count = g.getInteger("null_count", 0),
      streams = streams,
      raw_bytes = g.getLong("raw_bytes", 0),
      encoded_bytes = g.getLong("encoded_bytes", 0),
      min_val = optString("min_val"),
      max_val = optString("max_val"),
      sum_val = optLong("sum_val"),
      stride_rows = if (g.getType.containsField("stride_rows")) g.getInteger("stride_rows", 0) else 0,
      stride_mins = longList("stride_mins"),
      stride_maxs = longList("stride_maxs"),
      compression = optString("compression"),
      seg_lens = segLens,
      stride_null_counts = intList("stride_null_counts"),
      bloom = if (has("bloom")) Some(g.getBinary("bloom", 0).getBytes) else None)
  }
}

/** Lossless V1 `Filter` → `Column` translation for DELETE conditions.
  * None for anything not representable — the caller must then REFUSE
  * the whole delete (a partial translation would broaden the condition
  * and remove rows the user never asked to delete).
  */
private[source] object FilterToColumn {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.sources._

  def apply(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r)                => for (lc <- apply(l); rc <- apply(r)) yield lc && rc
    case Or(l, r)                 => for (lc <- apply(l); rc <- apply(r)) yield lc || rc
    case Not(c)                   => apply(c).map(not)
    case _: AlwaysTrue            => Some(lit(true))
    case _: AlwaysFalse           => Some(lit(false))
    case _                        => None
  }
}
