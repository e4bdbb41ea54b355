package graft.core

/** FSST — Fast Static Symbol Table string compression (Boncz, Neumann,
  * Leis; VLDB 2020). A north-rule addition on top of the reference's
  * dictionary/direct string encodings: random-access string compression
  * with a 255-entry table of symbols of 1..8 bytes each, one output byte
  * per symbol, and a dedicated escape code for bytes not covered by the
  * table.
  *
  * This is an independent from-scratch implementation of the published
  * algorithm (the reference repo has no FSST); training is the paper's
  * iterative bottom-up scheme: start from frequent single bytes, then
  * repeatedly extend symbols by merging adjacent matches that maximize
  * gain = frequency × length, over a bounded number of generations.
  *
  * Wire format:
  *   [numSymbols: u8] then numSymbols × [len: u8][bytes...]
  *   payload: codes 0..numSymbols-1 index the table; 0xFF escapes the
  *   next literal byte.
  */
object Fsst {
  final val EscapeCode = 0xff
  final val MaxSymbols = 255
  final val MaxSymbolLen = 8

  final class SymbolTable(val symbols: Array[Array[Byte]]) {
    require(symbols.length <= MaxSymbols, s"${symbols.length} symbols > $MaxSymbols")

    /** Symbols packed little-endian into longs for one-compare matching
      * (and one 8-byte store per symbol on decode).
      */
    private[Fsst] val symLong: Array[Long] = symbols.map(packLE)
    private[Fsst] val symLen: Array[Int] = symbols.map(_.length)

    /** The encoder's match tables, built on the first `compress`/`train`
      * use: a table deserialized to decode a stream reads only
      * symLong/symLen and never pays for them.
      */
    private[Fsst] lazy val matcher: Matcher = new Matcher(symLong, symLen)

    def serialize(out: ByteBuf): Unit = {
      out.writeByte(symbols.length)
      symbols.foreach { s =>
        out.writeByte(s.length)
        out.writeBytes(s)
      }
    }
  }

  /** The paper's constant-time match structure (FSST §3.2): symbols of
    * len ≥ 3 live in a hash table keyed on their first 3 bytes, ONE
    * candidate per slot (collisions keep the higher-gain symbol — the
    * trainer emits symbols gain-descending, so first insert wins);
    * 2-byte symbols index a 64 K short-code array; 1-byte symbols a
    * 256-entry array. A match probe is then one hash + at most three
    * array reads, instead of a scan over every symbol sharing the
    * first byte.
    */
  private[Fsst] final class Matcher(symLong: Array[Long], symLen: Array[Int]) {
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

    /** Slot-indexed probe data: the hot loop previously chased
      * longTable(h) → symLen(idx) → symLong(idx) → lenMask(len), four
      * DEPENDENT loads per position; these parallel arrays make a probe
      * (w & slotMask(h)) == slotPattern(h) — two independent loads and
      * one compare — with empty slots encoded as an impossible pattern
      * (mask 0, pattern 1) so no emptiness branch exists at all.
      * slotCodeLen packs (code << 8 | len) for the match fast path.
      */
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

    /** Fused 2-byte/1-byte resolution (paper §3.2): slot [b0|b1<<8] holds
      * `code<<1` for a 2-byte symbol, else `code<<1|1` for the 1-byte
      * symbol of b0, else -1 (escape b0). One array read decides the
      * whole sub-3-byte match.
      */
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
  @inline private def hash3(first3: Long): Int =
    ((first3 * 0x9E3779B97F4A7C15L) >>> (64 - HashBits)).toInt

  private val LongView = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Long]], java.nio.ByteOrder.LITTLE_ENDIAN)

  @inline private def packLE(bytes: Array[Byte]): Long = {
    var w = 0L
    var i = bytes.length - 1
    while (i >= 0) { w = (w << 8) | (bytes(i) & 0xffL); i -= 1 }
    w
  }

  /** mask(len) keeps the low len bytes. */
  private val lenMask: Array[Long] =
    Array.tabulate(9)(len => if (len == 8) -1L else (1L << (len * 8)) - 1)

  object SymbolTable {
    def deserialize(in: BytesIn): SymbolTable = {
      val n = in.checkedByte()
      val symbols = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        val len = in.checkedByte()
        symbols(i) = in.readFully(len)
        i += 1
      }
      new SymbolTable(symbols)
    }
  }

  /** Train a symbol table on a sample corpus. Deterministic for a given
    * input. `generations` trades training time for compression.
    */
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

  /** Best symbol matching at `pos`, or -1. Longest-class first: the
    * (single) len≥3 hash candidate, then the 2-byte short code, then the
    * 1-byte code. The 8-byte window is one VarHandle load away from the
    * array tail, a short byte-pack loop at it.
    */
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

  def compress(table: SymbolTable, data: Array[Byte], out: ByteBuf): Unit = {
    // worst case 2 bytes out per byte in (all escapes) — reserve once,
    // write raw, commit at the end
    out.reserve(2 * data.length + 8)
    val dst = out.unsafeArray
    var o = out.length
    var pos = 0
    val fastEnd = data.length - MaxSymbolLen // full 8-byte loads safe through here
    val matcher = table.matcher
    val slotMask = matcher.slotMask
    val slotPattern = matcher.slotPattern
    val slotCodeLen = matcher.slotCodeLen
    val shortCodes = matcher.shortCodes
    while (pos <= fastEnd) {
      val w = LongView.get(data, pos).asInstanceOf[Long]
      val h = hash3(w & 0xffffffL)
      if ((w & slotMask(h)) == slotPattern(h)) { // empty slots can never match
        val cl = slotCodeLen(h)
        dst(o) = (cl >>> 8).toByte; o += 1; pos += cl & 0xff
      } else {
        val s = shortCodes((w & 0xffffL).toInt) // fused 2-byte/1-byte/escape
        if (s >= 0) { dst(o) = (s >>> 1).toByte; o += 1; pos += 2 - (s & 1) }
        else { dst(o) = EscapeCode.toByte; dst(o + 1) = (w & 0xff).toByte; o += 2; pos += 1 }
      }
    }
    while (pos < data.length) { // tail: windows shorter than 8 bytes
      val m = matchAt(matcher, data, pos)
      if (m >= 0) { dst(o) = m.toByte; o += 1; pos += table.symLen(m) }
      else {
        dst(o) = EscapeCode.toByte; dst(o + 1) = data(pos); o += 2
        pos += 1
      }
    }
    out.unsafeSetLength(o)
  }

  def decompress(table: SymbolTable, data: Array[Byte], from: Int, until: Int, out: ByteBuf): Unit = {
    // worst case MaxSymbolLen bytes out per code; +8 slack lets every
    // symbol be written as ONE unconditional 8-byte LE store (the packed
    // symLong) with the cursor advanced by the true length — no
    // per-symbol byte loop or bounds checks in the hot path
    out.reserve((until - from) * MaxSymbolLen + 8)
    val dst = out.unsafeArray
    var o = out.length
    val symLong = table.symLong
    val symLen = table.symLen
    var pos = from
    while (pos < until) {
      val code = data(pos) & 0xff
      pos += 1
      if (code == EscapeCode) {
        // a truncated/corrupt segment ending in a lone escape must fail
        // cleanly, not consume a byte from the adjacent value's range
        if (pos >= until) throw new IllegalArgumentException(
          "truncated FSST stream: escape code at segment end")
        dst(o) = data(pos); o += 1
        pos += 1
      } else {
        LongView.set(dst, o, symLong(code))
        o += symLen(code)
      }
    }
    out.unsafeSetLength(o)
  }
}
