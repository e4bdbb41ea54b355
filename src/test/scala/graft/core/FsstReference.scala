package graft.core

/** The FSST trainer as it was before dense counts and packed keys: a
  * boxed pair-count map, String-keyed candidates and a full sort. Kept
  * unchanged as the oracle that `Fsst.train` must match byte for byte
  * (FsstSpec); its match structure is copied too, so the oracle shares
  * no code with the trainer under test.
  */
object FsstReference {
  import Fsst.{MaxSymbolLen, MaxSymbols}

  final class SymbolTable(val symbols: Array[Array[Byte]]) {
    val symLong: Array[Long] = symbols.map(packLE)
    val symLen: Array[Int] = symbols.map(_.length)
    lazy val matcher: Matcher = new Matcher(symLong, symLen)
  }

  final class Matcher(symLong: Array[Long], symLen: Array[Int]) {
    private val longTable: Array[Int] = {
      val t = Array.fill(HashSlots)(-1)
      var i = 0
      while (i < symLong.length) {
        if (symLen(i) >= 3) {
          val h = hash3(symLong(i) & 0xffffffL)
          if (t(h) < 0) t(h) = i
        }
        i += 1
      }
      t
    }
    val slotMask: Array[Long] = new Array[Long](HashSlots)
    val slotPattern: Array[Long] = Array.fill(HashSlots)(1L)
    val slotCodeLen: Array[Int] = new Array[Int](HashSlots)
    locally {
      var h = 0
      while (h < HashSlots) {
        val i = longTable(h)
        if (i >= 0) {
          slotMask(h) = lenMask(symLen(i))
          slotPattern(h) = symLong(i)
          slotCodeLen(h) = (i << 8) | symLen(i)
        }
        h += 1
      }
    }
    val byteCodes: Array[Int] = {
      val t = Array.fill(256)(-1)
      var i = 0
      while (i < symLong.length) {
        if (symLen(i) == 1 && t(symLong(i).toInt) < 0) t(symLong(i).toInt) = i
        i += 1
      }
      t
    }
    val shortCodes: Array[Int] = {
      val t = new Array[Int](1 << 16)
      var v = 0
      while (v < (1 << 16)) {
        val b = byteCodes(v & 0xff)
        t(v) = if (b >= 0) (b << 1) | 1 else -1
        v += 1
      }
      var i = 0
      while (i < symLong.length) {
        if (symLen(i) == 2) {
          val slot = symLong(i).toInt
          if (t(slot) < 0 || (t(slot) & 1) == 1) t(slot) = i << 1
        }
        i += 1
      }
      t
    }
  }

  private final val HashBits = 12
  private final val HashSlots = 1 << HashBits
  private def hash3(first3: Long): Int =
    ((first3 * 0x9E3779B97F4A7C15L) >>> (64 - HashBits)).toInt

  private val LongView = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Long]], java.nio.ByteOrder.LITTLE_ENDIAN)

  private def packLE(bytes: Array[Byte]): Long = {
    var w = 0L
    var i = bytes.length - 1
    while (i >= 0) { w = (w << 8) | (bytes(i) & 0xffL); i -= 1 }
    w
  }

  private val lenMask: Array[Long] =
    Array.tabulate(9)(len => if (len == 8) -1L else (1L << (len * 8)) - 1)

  /** The training corpus the engine's three call sites built by hand. */
  def corpusOf(values: Seq[Array[Byte]]): Array[Byte] = {
    val corpus = new ByteBuf(1 << 14)
    var i = 0
    while (i < values.length && corpus.length < (1 << 16)) {
      corpus.writeBytes(values(i)); i += 1
    }
    corpus.toArray
  }

  def train(sample: Array[Byte], generations: Int = 5): SymbolTable = {
    if (sample.isEmpty) return new SymbolTable(Array.empty)
    // cap training input for bounded cost
    val corpus = if (sample.length > (1 << 16)) java.util.Arrays.copyOf(sample, 1 << 16) else sample

    // generation 0: frequent single bytes
    var table = {
      val counts = new Array[Long](256)
      corpus.foreach(b => counts(b & 0xff) += 1)
      val top = (0 until 256).filter(counts(_) > 0).sortBy(b => -counts(b)).take(MaxSymbols)
      new SymbolTable(top.map(b => Array(b.toByte)).toArray)
    }

    var gen = 0
    while (gen < generations) {
      // parse the corpus with the current table; count symbol and
      // adjacent-pair frequencies
      val symCount = new Array[Long](table.symbols.length + 256)
      val pairCount = new java.util.HashMap[Long, Long]() // (sym1 << 32 | sym2) -> freq
      val matcher = table.matcher
      var pos = 0
      var prev = -1
      while (pos < corpus.length) {
        val m = matchAt(matcher, corpus, pos)
        val (code, len) = if (m >= 0) (m, table.symbols(m).length) else (table.symbols.length + (corpus(pos) & 0xff), 1)
        symCount(code) += 1
        if (prev >= 0) {
          val key = (prev.toLong << 32) | code.toLong
          pairCount.merge(key, 1L, (a, b) => a + b)
        }
        prev = code
        pos += len
      }

      // candidates: existing symbols, escaped literals, and merged pairs
      def symbolBytes(code: Int): Array[Byte] =
        if (code < table.symbols.length) table.symbols(code)
        else Array((code - table.symbols.length).toByte)

      val candidates = new java.util.HashMap[String, (Array[Byte], Long)]()
      def addCandidate(bytes: Array[Byte], gain: Long): Unit = {
        if (bytes.length <= MaxSymbolLen && gain > 0) {
          val key = new String(bytes.map(b => (b & 0xff).toChar))
          val cur = candidates.get(key)
          if (cur == null || cur._2 < gain) candidates.put(key, (bytes, gain))
        }
      }
      var c = 0
      while (c < symCount.length) {
        if (symCount(c) > 0) {
          val bytes = symbolBytes(c)
          addCandidate(bytes, symCount(c) * bytes.length)
        }
        c += 1
      }
      pairCount.forEach { (key, freq) =>
        val s1 = symbolBytes((key >>> 32).toInt)
        val s2 = symbolBytes((key & 0xffffffffL).toInt)
        if (s1.length + s2.length <= MaxSymbolLen)
          addCandidate(s1 ++ s2, freq * (s1.length + s2.length))
      }

      val picked = candidates.values().toArray(Array.empty[(Array[Byte], Long)])
        .sortBy { case (bytes, gain) => (-gain, new String(bytes.map(b => (b & 0xff).toChar))) }
        .take(MaxSymbols)
        .map(_._1)
      table = new SymbolTable(picked)
      gen += 1
    }
    table
  }

  private def matchAt(matcher: Matcher, data: Array[Byte], pos: Int): Int = {
    val avail = math.min(MaxSymbolLen, data.length - pos)
    var w = 0L
    if (data.length - pos >= 8) w = LongView.get(data, pos).asInstanceOf[Long]
    else {
      var j = avail - 1
      while (j >= 0) { w = (w << 8) | (data(pos + j) & 0xffL); j -= 1 }
    }
    if (avail >= 3) {
      val h = hash3(w & 0xffffffL)
      if ((w & matcher.slotMask(h)) == matcher.slotPattern(h)) {
        val cl = matcher.slotCodeLen(h)
        // len ≤ avail guards a symbol with trailing 0x00 bytes matching a
        // zero-padded short window
        if ((cl & 0xff) <= avail) return cl >>> 8
      }
    }
    if (avail >= 2) {
      val sc = matcher.shortCodes((w & 0xffffL).toInt)
      if (sc >= 0) return sc >>> 1 // fused: covers both 2-byte and 1-byte
      return -1
    }
    matcher.byteCodes((w & 0xffL).toInt)
  }
}
