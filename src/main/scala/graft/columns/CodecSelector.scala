package graft.columns

import graft.core.{Bloom, ByteBuf, Fsst}
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
    val distinct = new DistinctBytes
    val byteCounts = new Array[Long](256)
    sample.foreach { s =>
      count += 1
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      distinct.add(bytes)
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
    val stats = StringColumnStats(count, distinct.size.toLong,
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

  /** An exact set of byte strings for counting distinct values: open
    * addressing over each value's 64-bit hash, values compared byte-wise
    * only on a hash match. Distinct UTF-8 encodings are distinct strings
    * for every string a Spark row holds (valid UTF-16), so it counts what
    * a `HashSet[String]` counts, without hashing `String`s whose equal
    * `hashCode`s turn its buckets into trees.
    */
  private[columns] final class DistinctBytes {
    private var hashes = new Array[Long](64)
    private var values = new Array[Array[Byte]](64)
    private var n = 0

    def size: Int = n

    def add(b: Array[Byte]): Unit = {
      val h = Bloom.xxh64(b, 0, b.length, 0L)
      var i = slot(h, hashes.length)
      while (values(i) != null) {
        if (hashes(i) == h && java.util.Arrays.equals(values(i), b)) return
        i = (i + 1) & (hashes.length - 1)
      }
      hashes(i) = h
      values(i) = b
      n += 1
      if (n * 2 > hashes.length) grow()
    }

    private def slot(h: Long, cap: Int): Int = (h ^ (h >>> 32)).toInt & (cap - 1)

    private def grow(): Unit = {
      val oldH = hashes
      val oldV = values
      hashes = new Array[Long](oldH.length * 2)
      values = new Array[Array[Byte]](oldH.length * 2)
      var j = 0
      while (j < oldH.length) {
        if (oldV(j) != null) {
          var i = slot(oldH(j), hashes.length)
          while (values(i) != null) i = (i + 1) & (hashes.length - 1)
          hashes(i) = oldH(j)
          values(i) = oldV(j)
        }
        j += 1
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
