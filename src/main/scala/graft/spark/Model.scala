package graft.spark

/** One encoded column chunk — the distributed analogue of a stripe's
  * per-column stream set plus its StripeInformation entry
  * (/root/reference/src/ApacheOrcDotNet/Stripes/StripeWriter.cs:123-191).
  * One row per (partition, chunk, column); `streams` values are framed
  * by the chunk's `compression` kind (graft.core.BlockCompression, zstd
  * by default for new tables).
  */
final case class EncodedChunk(
    part_id: Int,
    chunk_id: Int,
    first_row: Long, // row offset of this chunk within the partition
    column: String,
    codec: String,
    row_count: Int,
    null_count: Int,
    streams: Map[String, Array[Byte]],
    raw_bytes: Long,
    encoded_bytes: Long,
    min_val: Option[String],
    max_val: Option[String],
    sum_val: Option[Long],
    // Sub-chunk row index (the reference's RowIndex granularity,
    // StripeWriter.cs:64-65,107-121): per-stride min/max every
    // `stride_rows` rows for long-family columns. Strides with no
    // non-null values carry (Long.MinValue, Long.MaxValue) = always-keep.
    stride_rows: Int = 0,
    stride_mins: Option[Seq[Long]] = None,
    stride_maxs: Option[Seq[Long]] = None,
    // Stream-blob compression kind (BlockCompression); None = zlib, the
    // wire default before the kind was recorded. Older chunk parquet may
    // lack this (and the seg_* fields) entirely — readers state the full
    // chunk schema, so missing columns read as nulls and the
    // getOrElse(Zlib) defaults are the real back-compat path.
    compression: Option[String] = None,
    // Per-stream stride segmentation (the reference's RowIndex stream
    // positions, ColumnWriterStatistics.cs:10-33 + OrcCompressedBuffer
    // .cs:66-72, exploited for real): when set, each stream blob is the
    // concatenation of per-stride INDEPENDENTLY-compressed segments and
    // seg_lens[kind] lists the compressed segment byte lengths, one per
    // stride — so a pruned stride's segments are never decompressed or
    // value-decoded, not just never row-materialized. stride_null_counts
    // makes each stride's segment set self-contained to decode.
    seg_lens: Option[Map[String, Seq[Int]]] = None,
    stride_null_counts: Option[Seq[Int]] = None,
    // Chunk-level Bloom filter over the column's non-null values
    // (graft.core.Bloom, opt-in per column): equality pruning on
    // unsorted high-cardinality columns where min/max ranges prune
    // nothing. The reference's never-implemented Protocol/BloomFilter.cs
    // stub, actually built.
    bloom: Option[Array[Byte]] = None,
    // double/float only: NaN occurrences among the non-null values.
    // min_val/max_val EXCLUDE NaN (a NaN range poisons pruning), but
    // Spark sorts NaN above +Inf — this count is what lets metadata
    // answer MIN/MAX exactly (max = NaN iff nan_count > 0; min = NaN iff
    // stats absent and nan_count > 0). None for other types and for
    // chunks written before the field existed.
    nan_count: Option[Int] = None)

/** Per-partition lineage + metrics row, the manifest/commit-log analogue
  * of the reference's Footer/Metadata tail (OrcWriter.cs:57-98). A
  * partition is resumable iff its manifest row is committed.
  */
final case class ManifestEntry(
    part_id: Int,
    batch_id: Int,
    chunk_count: Int,
    row_count: Long,
    raw_bytes: Long,
    encoded_bytes: Long,
    wall_ms: Long,
    codecs: String) // "col=CODEC,col=CODEC" lineage of pinned decisions

/** Column shredding spec: how a Spark column maps onto a physical codec
  * input. `logical` ∈ long | bool | double | float | binary | string |
  * timestamp | timestamp_ntz | date. `narrow` remembers the original
  * integer width ("int" | "short" | "byte" | "") so decode restores the
  * exact input schema after the long-funnel encode (the reference also
  * funnels all integer widths through LongWriter, StripeWriter.cs:256-279).
  */
final case class ColumnSpec(name: String, logical: String, stringCodec: String,
                            narrow: String = "")
