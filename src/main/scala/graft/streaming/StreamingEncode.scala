package graft.streaming

import graft.spark.{EncodeJob, TableEncoder}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Continuous ingestion for the encode engine — the Structured Streaming
  * face of EncodeJob. The reference is strictly batch (no streaming
  * runtime anywhere in /root/reference, SURVEY.md §2.7); this module is
  * the north-rule "resumable, checkpointed" requirement expressed in
  * Spark's native streaming model instead of hand-rolled loops:
  *
  *  - `start` drives micro-batches through the SAME encode path as the
  *    batch job (`foreachBatch`), with two layers of exactly-once:
  *    Structured Streaming's checkpoint decides which source offsets a
  *    batch covers, and our manifest makes the sink idempotent — a batch
  *    replayed after a crash sees its batch_id already committed and
  *    skips. Codec decisions are pinned on the FIRST batch and reused
  *    verbatim for the life of the stream (recorded in manifest lineage),
  *    so a table encoded over weeks of ingestion stays uniformly decodable.
  *
  *  - `ingestMetrics` is an event-time windowed aggregation with a
  *    watermark: per (window, lang) document counts and byte volumes.
  *    Late pages beyond the watermark are dropped and state is GC'd, so
  *    the aggregation runs forever in bounded memory on a real cluster.
  *
  *  - `dropRecrawls` is `flatMapGroupsWithState` keyed on url: only the
  *    first sighting of each (url, content-hash) passes, with an idle
  *    timeout so state for dead urls expires. This is streaming exact
  *    dedup — the crawl-frontier half of the batch Dedup operators.
  */
object StreamingEncode {

  /** Start continuous encode of a streaming DataFrame with the input_hint
    * page schema. `numPartitions`/`keyColumn` mirror EncodeJob.Config;
    * each micro-batch is salted and encoded exactly like one batch run.
    */
  def start(pages: DataFrame, outDir: String, checkpointDir: String,
            numPartitions: Int, keyColumn: Option[String] = Some("lang"),
            trigger: Trigger = Trigger.AvailableNow(),
            compression: String = graft.core.BlockCompression.Zlib): StreamingQuery = {
    require(pages.isStreaming, "StreamingEncode.start needs a streaming DataFrame")
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        encodeBatch(batch, batchId, outDir, numPartitions, keyColumn, compression)
      }
      .start()
  }

  /** One micro-batch through the batch encode path, idempotent on
    * batch_id. Public so tests (and backfills) can drive it directly.
    */
  def encodeBatch(batch: DataFrame, batchId: Long, outDir: String,
                  numPartitions: Int, keyColumn: Option[String],
                  compression: String = graft.core.BlockCompression.Zlib): Unit = {
    val spark = batch.sparkSession
    // one snapshot read serves visibility, the compaction guard AND the
    // replay check — driver-side metadata, no Spark jobs per micro-batch
    // (before: a manifest read + filter + count job pair on every epoch)
    val snap = graft.spark.TableMeta.snapshot(spark, outDir)

    // the sink's batch ids ARE the stream's epoch ids; a compaction
    // allocates from the same integer space, so a sink resumed onto a
    // compacted dir would (a) mistake the compaction's manifest rows for
    // its own replay and silently DROP micro-batches, then (b) overwrite
    // the compaction batch dir when its epoch reaches that id. Fail loud:
    // compacting a streaming-sink dir requires retiring this sink (start
    // a fresh checkpoint writing to a fresh dir, or batch-append instead)
    require(snap.compactions.isEmpty,
      s"$outDir has been compacted — a StreamingEncode sink cannot resume onto it " +
        "(epoch-derived batch ids would collide with the compaction batch); " +
        "write to a fresh dir or append in batch mode")

    // sink-side idempotence: a replayed batch is already committed — skip
    if (snap.batchIds.contains(batchId.toInt)) return

    // pin codecs once per stream: batch 0 samples, later batches reuse
    // the lineage recorded in the manifest (runBatch reads it from the
    // snapshot)
    val cfg = EncodeJob.Config(outDir, numPartitions, keyColumn, compression = compression)
    EncodeJob.runBatch(batch, cfg, batchId.toInt, hadBatches = snap.batchIds.nonEmpty)
  }

  /** Per-(event-time window, lang) ingestion metrics with a watermark —
    * count, raw text/html bytes — for monitoring a continuous encode.
    * OutputMode.Append emits each window once it is final.
    */
  def ingestMetrics(pages: DataFrame, windowLen: String = "1 minute",
                    watermarkDelay: String = "2 minutes"): DataFrame =
    pages
      .withWatermark("warc_ts", watermarkDelay)
      .groupBy(window(col("warc_ts"), windowLen), col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        sum(length(col("text")).cast("long") + octet_length(col("html")).cast("long")).as("raw_bytes"))
      .select(col("window.start").as("window_start"), col("lang"), col("docs"), col("raw_bytes"))

  final case class Sighting(url: String, textHash: Long)

  /** How many distinct content hashes to remember per url in
    * dropRecrawls. Real crawl churn is a handful of versions per url per
    * TTL window; the cap bounds state at 64 longs per active url.
    */
  final val RecrawlHashesPerUrl = 64

  /** Streaming exact-dedup on (url, content-hash): the first sighting of
    * each (url, hash) passes, later re-crawls with any previously-seen
    * content are dropped — including A→B→A flips, which a last-hash-only
    * state would re-admit. State per url is a bounded FIFO of the last
    * [[RecrawlHashesPerUrl]] distinct hashes and expires after `stateTtl`
    * of inactivity, so the operator holds O(active urls × 64 longs), not
    * O(all urls ever seen).
    */
  def dropRecrawls[T <: Product](pages: Dataset[graft.spark.Page],
                                 stateTtl: String = "30 minutes"): Dataset[graft.spark.Page] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .groupByKey(_.url)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (url: String, rows: Iterator[graft.spark.Page], state: GroupState[Seq[Long]]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // FIFO of seen hashes, newest last; Seq[Long] has a built-in
            // Spark encoder so state stays in Tungsten format
            var seen: Vector[Long] = if (state.exists) state.get.toVector else Vector.empty
            val out = rows.filter { p =>
              val ph = graft.functions.TextOps.fingerprint(if (p.text == null) "" else p.text)
              val fresh = !seen.contains(ph)
              if (fresh) {
                seen = (seen :+ ph).takeRight(RecrawlHashesPerUrl)
              }
              fresh
            }.toVector
            state.update(seen)
            state.setTimeoutDuration(stateTtl)
            out.iterator
          }
        })
  }
}
