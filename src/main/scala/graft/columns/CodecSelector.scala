package graft.columns

import graft.core.{ByteBuf, Fsst}
import java.nio.charset.StandardCharsets

/** Per-column codec auto-selection from sampled statistics — the
  * north-rule generalization of the reference's dictionary-vs-direct
  * decision (it uses the distinct/total ratio of the FIRST block only,
  * threshold 0.8: /root/reference/src/ApacheOrcDotNet/ColumnTypes/
  * StringWriter.cs:83-96, WriterConfiguration.cs:64).
  *
  * Distributed twist: the decision must be pinned BEFORE fan-out so that
  * every partition encodes the same way, and recorded in lineage for
  * reproducibility. The Spark layer computes these stats with ds.sample +
  * aggregates and broadcasts one [[StringCodecDecision]] per column.
  */
final case class StringColumnStats(
    sampleCount: Long,
    distinctCount: Long,
    avgLength: Double,
    byteEntropy: Double, // Shannon entropy of byte distribution, bits/byte
    // compressed/original on the sample, 1.0 = no gain. stringStats
    // leaves it at 1.0, unevaluated, when the choice cannot depend on it
    // (dictionary cardinality, or avgLength < FsstMinAvgLength)
    fsstSampleRatio: Double
) {
  def distinctRatio: Double = if (sampleCount == 0) 1.0 else distinctCount.toDouble / sampleCount
}

object CodecSelector {
  /** Reference's dictionary threshold (unique/total ≤ 0.8 ⇒ dictionary). */
  final val DictionaryThreshold = 0.8

  /** FSST pays off when the sample actually compresses. */
  final val FsstRatioThreshold = 0.85
  final val FsstMinAvgLength = 8.0

  def chooseStringCodec(stats: StringColumnStats): String =
    if (stats.distinctRatio <= DictionaryThreshold) Codecs.StringDictV2
    else if (stats.avgLength >= FsstMinAvgLength && stats.fsstSampleRatio <= FsstRatioThreshold)
      Codecs.StringFsst
    else Codecs.StringDirect

  /** Compute selection stats from a sample of non-null strings. FSST is
    * trained on the sample only when chooseStringCodec would pick FSST
    * for a good enough ratio.
    */
  def stringStats(sample: Iterable[String]): StringColumnStats = {
    var count = 0L
    var totalLen = 0L
    val distinct = new java.util.HashSet[String]()
    val byteCounts = new Array[Long](256)
    sample.foreach { s =>
      count += 1
      distinct.add(s)
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      totalLen += bytes.length
      var i = 0
      while (i < bytes.length) { byteCounts(bytes(i) & 0xff) += 1; i += 1 }
    }
    val totalBytes = byteCounts.sum
    var entropy = 0.0
    if (totalBytes > 0) {
      var i = 0
      while (i < 256) {
        if (byteCounts(i) > 0) {
          val p = byteCounts(i).toDouble / totalBytes
          entropy -= p * (math.log(p) / math.log(2))
        }
        i += 1
      }
    }
    val stats = StringColumnStats(count, distinct.size().toLong,
      if (count == 0) 0.0 else totalLen.toDouble / count, entropy, fsstSampleRatio = 1.0)
    if (chooseStringCodec(stats.copy(fsstSampleRatio = 0.0)) != Codecs.StringFsst) stats
    else {
      val corpus = Fsst.sampleOf(sample.iterator.map(_.getBytes(StandardCharsets.UTF_8)))
      if (corpus.length < 64) stats
      else {
        val compressed = new ByteBuf(corpus.length)
        Fsst.compress(Fsst.train(corpus), corpus, compressed)
        stats.copy(fsstSampleRatio = compressed.length.toDouble / corpus.length)
      }
    }
  }

  /** Encode a string column with an explicit pre-pinned decision.
    * `fsstTable` (optional) reuses a partition-local symbol table instead
    * of retraining per chunk — training cost is amortized across a
    * partition's chunks while the table stays adapted to the partition's
    * (lang-clustered, post-salting) data.
    */
  def encodeString(codec: String, values: Array[String], present: Array[Boolean],
                   fsstTable: graft.core.Fsst.SymbolTable = null,
                   aligned: Boolean = false): ColumnStreams =
    codec match {
      case Codecs.StringDictV2 => ColumnCodec.encodeStringDict(values, present, aligned)
      case Codecs.StringFsst   => ColumnCodec.encodeStringFsst(values, present, fsstTable)
      case Codecs.StringDirect => ColumnCodec.encodeStringDirect(values, present, aligned)
      case other               => throw new IllegalArgumentException(s"not a string codec: $other")
    }

  /** Byte-oriented variant for the encode hot path (values are UTF-8). */
  def encodeStrBytes(codec: String, values: Array[Array[Byte]], present: Array[Boolean],
                     fsstTable: graft.core.Fsst.SymbolTable = null,
                     aligned: Boolean = false): ColumnStreams =
    codec match {
      case Codecs.StringDictV2 => ColumnCodec.encodeStrBytesDict(values, present, aligned)
      case Codecs.StringFsst   => ColumnCodec.encodeStrBytesFsst(values, present, fsstTable, aligned)
      case Codecs.StringDirect => ColumnCodec.encodeStrBytesDirect(values, present, aligned)
      case other               => throw new IllegalArgumentException(s"not a string codec: $other")
    }
}
