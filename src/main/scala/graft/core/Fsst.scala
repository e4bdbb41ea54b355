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
  * Training structures (`train`): each generation parses the corpus
  * (its first TrainCap bytes) into codes — the table's symbols, then one
  * code per distinct corpus byte for escaped literals — and counts them
  * in a dense Int array; adjacent pairs count in a dense Int array
  * indexed prev << shift | code (2^shift ≥ symbols + distinct bytes)
  * whose non-zero cells are listed as they appear, so only those cells
  * are read and re-zeroed. The parse probes hash slots filled as the
  * Matcher fills them, a 64 K 2-byte array and a 256-entry byte array,
  * all allocated once per training and reset entry by entry between
  * generations.
  * Candidates (symbols, literals and concatenated pairs of ≤ 8 bytes)
  * are keyed by their bytes packed big-endian into a Long plus their
  * length, in a primitive open-addressing table (a duplicate keeps the
  * larger gain), and a 255-slot heap keeps the best by (gain desc,
  * bytes unsigned-lexicographic, proper prefix first). Nothing is boxed,
  * no string is built, and nothing but the kept 255 is ordered.
  *
  * Invariant: that order equals a full sort of the candidates by
  * `(-gain, String of the bytes as chars 0..255)`, the order of the
  * String-keyed reference trainer (FsstReference in the tests), so every
  * trained table — and so every stored FSST stream — is byte-identical
  * to the reference's; FsstSpec checks it.
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

  /** A symbol table, held as its symbols packed little-endian into longs
    * (one compare per match, one 8-byte store per symbol on decode) and
    * their lengths.
    */
  final class SymbolTable private (private[Fsst] val symLong: Array[Long],
                                   private[Fsst] val symLen: Array[Int]) {
    require(symLong.length <= MaxSymbols, s"${symLong.length} symbols > $MaxSymbols")

    def this(symbols: Array[Array[Byte]]) = this(symbols.map(packLE), symbols.map(_.length))

    /** The symbols' bytes, unpacked on first use (a table deserialized
      * to decode a stream never needs them).
      */
    lazy val symbols: Array[Array[Byte]] =
      Array.tabulate(symLong.length)(i =>
        Array.tabulate(symLen(i))(j => (symLong(i) >>> (8 * j)).toByte))

    /** The encoder's match tables, built on the first `compress` use: a table deserialized to decode a stream reads only
      * symLong/symLen and never pays for them.
      */
    private[Fsst] lazy val matcher: Matcher = new Matcher(symLong, symLen)

    def serialize(out: ByteBuf): Unit = {
      out.writeByte(symLong.length)
      var i = 0
      while (i < symLong.length) {
        out.writeByte(symLen(i))
        var j = 0
        while (j < symLen(i)) { out.writeByte((symLong(i) >>> (8 * j)).toInt); j += 1 }
        i += 1
      }
    }
  }

  /** The paper's constant-time match structure (FSST §3.2): symbols of
    * len ≥ 3 live in a hash table keyed on their first 3 bytes (see
    * enterSlots); 2-byte symbols index a 64 K short-code array; 1-byte
    * symbols a 256-entry array. A match probe is then one hash + at most three
    * array reads, instead of a scan over every symbol sharing the
    * first byte.
    */
  private[Fsst] final class Matcher(symLong: Array[Long], symLen: Array[Int]) {
    /** Slot-indexed probe data: the hot loop previously chased
      * longTable(h) → symLen(idx) → symLong(idx) → lenMask(len), four
      * DEPENDENT loads per position; these parallel arrays make a probe
      * (w & slotMask(h)) == slotPattern(h) — two independent loads and
      * one compare — with empty slots encoded as an impossible pattern
      * (mask 0, pattern 1) so no emptiness branch exists at all.
      * slotCodeLen packs (code << 8 | len) for the match fast path.
      */
    val slotMask: Array[Long] = new Array[Long](HashSlots)
    val slotPattern: Array[Long] = emptyPatterns()
    val slotCodeLen: Array[Int] = new Array[Int](HashSlots)
    enterSlots(symLong, symLen, slotMask, slotPattern, slotCodeLen)
    val byteCodes: Array[Int] = new Array[Int](256)
    enterByteCodes(symLong, symLen, byteCodes)

    /** Fused 2-byte/1-byte resolution (paper §3.2): slot [b0|b1<<8] holds
      * `code<<1` for a 2-byte symbol, else `code<<1|1` for the 1-byte
      * symbol of b0, else -1 (escape b0). One array read decides the
      * whole sub-3-byte match.
      */
    val shortCodes: Array[Int] = {
      val t = new Array[Int](1 << 16)
      // the fallback depends on b0 = v & 0xff alone: fill the first 256
      // slots, replicate them by doubling copies (far cheaper than
      // deciding 64 K slots one by one), then overlay the 2-byte symbols
      var b = 0
      while (b < 256) {
        val c = byteCodes(b)
        t(b) = if (c >= 0) (c << 1) | 1 else -1
        b += 1
      }
      var filled = 256
      while (filled < t.length) { System.arraycopy(t, 0, t, filled, filled); filled *= 2 }
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

  private def emptyPatterns(): Array[Long] = {
    val t = new Array[Long](HashSlots)
    java.util.Arrays.fill(t, 1L)
    t
  }

  /** Symbols of len ≥ 3 live in a hash table keyed on their first 3
    * bytes, ONE candidate per slot: collisions keep the first (the trainer
    * emits symbols gain-descending, so the higher-gain one).
    */
  private def enterSlots(symLong: Array[Long], symLen: Array[Int], mask: Array[Long],
                         pattern: Array[Long], codeLen: Array[Int]): Unit = {
    var i = 0
    while (i < symLong.length) {
      if (symLen(i) >= 3) {
        val h = hash3(symLong(i) & 0xffffffL)
        if (mask(h) == 0) {
          mask(h) = lenMask(symLen(i))
          pattern(h) = symLong(i)
          codeLen(h) = (i << 8) | symLen(i)
        }
      }
      i += 1
    }
  }

  /** byteCodes(b) = the code of the 1-byte symbol b, else -1. */
  private def enterByteCodes(symLong: Array[Long], symLen: Array[Int], byteCodes: Array[Int]): Unit = {
    java.util.Arrays.fill(byteCodes, -1)
    var i = 0
    while (i < symLong.length) {
      if (symLen(i) == 1 && byteCodes(symLong(i).toInt) < 0) byteCodes(symLong(i).toInt) = i
      i += 1
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
    /** Reads a serialized table straight into its packed form. */
    def deserialize(in: BytesIn): SymbolTable = {
      val n = in.checkedByte()
      val symLong = new Array[Long](n)
      val symLen = new Array[Int](n)
      var i = 0
      while (i < n) {
        val len = in.checkedByte()
        if (len > MaxSymbolLen || in.pos + len > in.end)
          throw new IllegalStateException(s"FSST symbol of $len bytes at ${in.pos}")
        var w = 0L
        var j = len - 1
        while (j >= 0) { w = (w << 8) | (in.arr(in.pos + j) & 0xffL); j -= 1 }
        in.pos += len
        symLong(i) = w
        symLen(i) = len
        i += 1
      }
      new SymbolTable(symLong, symLen)
    }
  }

  /** Training reads at most the first TrainCap bytes of a sample. */
  final val TrainCap = 1 << 16

  /** A column's training sample: whole values, appended while it is under
    * TrainCap bytes, so the last one may cross the cap (`train` cuts it).
    */
  def sampleOf(values: Iterator[Array[Byte]]): Array[Byte] = gather(values, Int.MaxValue)

  /** `train(sampleOf(values))`, without copying the bytes past the cap. */
  def trainValues(values: Iterator[Array[Byte]]): SymbolTable = train(gather(values, TrainCap))

  /** The values sampleOf appends, concatenated and cut at `limit` bytes;
    * sized once, each value copied once.
    */
  private def gather(values: Iterator[Array[Byte]], limit: Int): Array[Byte] = {
    val parts = new java.util.ArrayList[Array[Byte]]()
    var n = 0L
    while (n < TrainCap && values.hasNext) {
      val v = values.next()
      parts.add(v)
      n += v.length
    }
    val out = new Array[Byte](math.min(n, limit.toLong).toInt)
    var o = 0
    var i = 0
    while (o < out.length) {
      val v = parts.get(i)
      val k = math.min(v.length, out.length - o)
      System.arraycopy(v, 0, out, o, k)
      o += k
      i += 1
    }
    out
  }

  /** Train a symbol table on a sample corpus (its first TrainCap bytes).
    * Deterministic for a given input. `generations` trades training time
    * for compression.
    */
  def train(sample: Array[Byte], generations: Int = 5): SymbolTable = {
    val end = math.min(sample.length, TrainCap)
    if (end == 0) return new SymbolTable(Array.empty)

    // generation 0: frequent single bytes. The corpus's distinct bytes are
    // ranked once: an escaped literal b parses to code nsym + escRank(b),
    // so a generation's code space is nsym + distinct wide
    val byteCount = new Array[Int](256)
    var i = 0
    while (i < end) { byteCount(sample(i) & 0xff) += 1; i += 1 }
    val escRank = new Array[Int](256)
    val escByte = new Array[Int](256)
    var distinct = 0
    var table = {
      val singles = new Candidates(256)
      var b = 0
      while (b < 256) {
        if (byteCount(b) > 0) {
          escRank(b) = distinct
          escByte(distinct) = b
          distinct += 1
          singles.add(b.toLong << 56, 1, byteCount(b))
        }
        b += 1
      }
      singles.top(MaxSymbols)
    }

    // the generation's match structure, allocated once and emptied after
    // each parse by resetting just the entries set: the Matcher's probe,
    // with its fused 2-byte/1-byte array split into pairCodes and
    // byteCodes so that no 64 K table is rebuilt per generation
    val slotMask = new Array[Long](HashSlots)
    val slotPattern = emptyPatterns()
    val slotCodeLen = new Array[Int](HashSlots)
    val byteCodes = new Array[Int](256)
    val pairCodes = new Array[Byte](1 << 16) // [b0|b1<<8]: 1 + code of the 2-byte symbol, else 0
    // a local ByteBuffer's getLong inlines to one load; the VarHandle in
    // LongView, a field of this object, is not constant-folded by the JIT
    val window = java.nio.ByteBuffer.wrap(sample).order(java.nio.ByteOrder.LITTLE_ENDIAN)

    var pairCount = new Array[Int](0) // [prev << shift | code], zero between generations
    val touched = new Array[Int](end) // pairCount cells made non-zero, ≤ one per position
    var gen = 0
    while (gen < generations) {
      val symLong = table.symLong
      val symLen = table.symLen
      val nsym = symLen.length
      val dim = nsym + distinct
      val shift = 32 - Integer.numberOfLeadingZeros(dim - 1)
      if (pairCount.length < (dim << shift)) pairCount = new Array[Int](dim << shift)
      val count = new Array[Int](dim)
      // each code's bytes packed big-endian (first byte highest), and length
      val codeKey = new Array[Long](dim)
      val codeLen = new Array[Int](dim)
      var c = 0
      while (c < dim) {
        if (c < nsym) {
          codeKey(c) = java.lang.Long.reverseBytes(symLong(c))
          codeLen(c) = symLen(c)
        } else {
          codeKey(c) = escByte(c - nsym).toLong << 56
          codeLen(c) = 1
        }
        c += 1
      }
      enterSlots(symLong, symLen, slotMask, slotPattern, slotCodeLen)
      enterByteCodes(symLong, symLen, byteCodes)
      c = 0
      while (c < nsym) {
        val v = symLong(c).toInt
        if (symLen(c) == 2 && pairCodes(v) == 0) pairCodes(v) = (c + 1).toByte
        c += 1
      }

      // parse the corpus with the current table (matchAt's rules); count
      // symbol and adjacent-pair frequencies
      var nTouched = 0
      var pos = 0
      var prev = -1
      while (pos < end) {
        val avail = end - pos
        val w = if (avail >= MaxSymbolLen) window.getLong(pos) else tailWindow(sample, pos, end)
        var code = -1
        if (avail >= 3) {
          val h = hash3(w & 0xffffffL)
          val cl = slotCodeLen(h)
          // len ≤ avail guards a symbol with trailing 0x00 bytes matching a
          // zero-padded short window
          if ((w & slotMask(h)) == slotPattern(h) && (cl & 0xff) <= avail) code = cl >>> 8
        }
        if (code < 0) {
          val c2 = if (avail >= 2) pairCodes((w & 0xffffL).toInt) & 0xff else 0
          if (c2 != 0) code = c2 - 1
          else {
            val b = (w & 0xffL).toInt
            code = if (byteCodes(b) >= 0) byteCodes(b) else nsym + escRank(b)
          }
        }
        count(code) += 1
        if (prev >= 0) {
          val cell = (prev << shift) | code
          if (pairCount(cell) == 0) { touched(nTouched) = cell; nTouched += 1 }
          pairCount(cell) += 1
        }
        prev = code
        pos += codeLen(code)
      }
      c = 0
      while (c < nsym) {
        if (symLen(c) >= 3) {
          val h = hash3(symLong(c) & 0xffffffL)
          slotMask(h) = 0L
          slotPattern(h) = 1L
        } else if (symLen(c) == 2) pairCodes(symLong(c).toInt) = 0
        c += 1
      }

      // candidates: existing symbols, escaped literals, and merged pairs;
      // the pass over the touched cells also zeroes them for the next one
      val cands = new Candidates(dim + nTouched)
      c = 0
      while (c < dim) {
        if (count(c) > 0) cands.add(codeKey(c), codeLen(c), count(c) * codeLen(c))
        c += 1
      }
      val codeMask = (1 << shift) - 1
      var t = 0
      while (t < nTouched) {
        val cell = touched(t)
        val p = cell >>> shift
        val q = cell & codeMask
        val len = codeLen(p) + codeLen(q)
        if (len <= MaxSymbolLen)
          cands.add(codeKey(p) | (codeKey(q) >>> (8 * codeLen(p))), len, pairCount(cell) * len)
        pairCount(cell) = 0
        t += 1
      }
      table = cands.top(MaxSymbols)
      gen += 1
    }
    table
  }

  /** data[pos, end) (under 8 bytes) packed little-endian, zero-padded. */
  private def tailWindow(data: Array[Byte], pos: Int, end: Int): Long = {
    var w = 0L
    var j = end - 1
    while (j >= pos) { w = (w << 8) | (data(j) & 0xffL); j -= 1 }
    w
  }

  /** A generation's candidate symbols in an open-addressing table, keyed by
    * (bytes packed big-endian, length); adding a key again keeps the larger
    * gain. `expected` bounds the number of distinct keys added.
    */
  private final class Candidates(expected: Int) {
    private val bits = 32 - Integer.numberOfLeadingZeros(math.max(expected, 8) * 2 - 1)
    private val mask = (1 << bits) - 1
    private val keys = new Array[Long](1 << bits)
    // gain << 4 | length (gain ≤ TrainCap × MaxSymbolLen); 0 = empty slot
    private val meta = new Array[Int](1 << bits)

    def add(key: Long, len: Int, gain: Int): Unit = {
      var h = (((key ^ len) * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
      while (meta(h) != 0 && (keys(h) != key || (meta(h) & 0xf) != len)) h = (h + 1) & mask
      if (meta(h) == 0) keys(h) = key
      if (meta(h) >>> 4 < gain) meta(h) = gain << 4 | len
    }

    /** Slot a ranks before slot b: gain descending, then the bytes
      * unsigned-lexicographically with a proper prefix first — zero-padded
      * big-endian keys compare unsigned, and equal keys differ only in
      * trailing 0x00 bytes, so the shorter goes first.
      */
    private def before(a: Int, b: Int): Boolean = {
      val ga = meta(a) >>> 4
      val gb = meta(b) >>> 4
      ga > gb || (ga == gb && {
        val k = java.lang.Long.compareUnsigned(keys(a), keys(b))
        k < 0 || (k == 0 && (meta(a) & 0xf) < (meta(b) & 0xf))
      })
    }

    /** The first k candidates in rank order, as a table: a bounded heap
      * whose root is the last-ranked of those kept.
      */
    def top(k: Int): SymbolTable = {
      val heap = new Array[Int](k)
      var size = 0
      var rootGain = 0 // once the heap is full: the gain of its root
      var s = 0
      while (s <= mask) {
        if (meta(s) != 0) {
          if (size < k) {
            heap(size) = s
            size += 1
            var i = size - 1
            while (i > 0 && before(heap((i - 1) >> 1), heap(i))) {
              val p = (i - 1) >> 1
              swap(heap, i, p)
              i = p
            }
            if (size == k) rootGain = meta(heap(0)) >>> 4
          } else if ((meta(s) >>> 4) >= rootGain && before(s, heap(0))) {
            heap(0) = s
            siftDown(heap, size)
            rootGain = meta(heap(0)) >>> 4
          }
        }
        s += 1
      }
      val symbols = new Array[Array[Byte]](size)
      var i = size - 1
      while (i >= 0) {
        val slot = heap(0)
        symbols(i) = Array.tabulate(meta(slot) & 0xf)(j => (keys(slot) >>> (56 - 8 * j)).toByte)
        heap(0) = heap(i)
        siftDown(heap, i)
        i -= 1
      }
      new SymbolTable(symbols)
    }

    private def siftDown(heap: Array[Int], size: Int): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        var last = i
        if (l < size && before(heap(last), heap(l))) last = l
        if (l + 1 < size && before(heap(last), heap(l + 1))) last = l + 1
        if (last == i) done = true
        else { swap(heap, i, last); i = last }
      }
    }

    private def swap(heap: Array[Int], i: Int, j: Int): Unit = {
      val x = heap(i); heap(i) = heap(j); heap(j) = x
    }
  }

  /** Best symbol matching at `pos` in data[.., end), or -1. Longest-class
    * first: the (single) len≥3 hash candidate, then the 2-byte short code,
    * then the 1-byte code. The 8-byte window is one VarHandle load away
    * from `end`, a short byte-pack loop at it.
    */
  private def matchAt(matcher: Matcher, data: Array[Byte], pos: Int, end: Int): Int = {
    val avail = math.min(MaxSymbolLen, end - pos)
    val w = if (end - pos >= 8) LongView.get(data, pos).asInstanceOf[Long] else tailWindow(data, pos, end)
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
      val m = matchAt(matcher, data, pos, data.length)
      if (m >= 0) { dst(o) = m.toByte; o += 1; pos += table.symLen(m) }
      else {
        dst(o) = EscapeCode.toByte; dst(o + 1) = data(pos); o += 2
        pos += 1
      }
    }
    out.unsafeSetLength(o)
  }

  /** Decoded size of the codes in data[from, until): a symbol's length per
    * code, 1 per escaped literal.
    */
  def decodedLength(table: SymbolTable, data: Array[Byte], from: Int, until: Int): Int = {
    val symLen = table.symLen
    var n = 0
    var pos = from
    while (pos < until) {
      val code = data(pos) & 0xff
      if (code == EscapeCode) { n += 1; pos += 2 }
      else { n += symLen(code); pos += 1 }
    }
    n
  }

  /** Append the decoding of data[from, until) to `out`, reserving the
    * worst case (MaxSymbolLen bytes per code). To decode many values into
    * one buffer, size it once and use decompressInto.
    */
  def decompress(table: SymbolTable, data: Array[Byte], from: Int, until: Int, out: ByteBuf): Unit = {
    out.reserve((until - from) * MaxSymbolLen + 8)
    out.unsafeSetLength(decompressInto(table, data, from, until, out.unsafeArray, out.length))
  }

  /** Decode data[from, until) into dst at `at`; returns the end offset.
    * dst must hold the decoded bytes plus 8 bytes of slack after them
    * (decodedLength + 8): the slack lets every symbol be written as ONE
    * unconditional 8-byte LE store (the packed symLong) with the cursor
    * advanced by the true length — no per-symbol byte loop or bounds
    * checks in the hot path.
    */
  def decompressInto(table: SymbolTable, data: Array[Byte], from: Int, until: Int,
                     dst: Array[Byte], at: Int): Int = {
    var o = at
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
    o
  }
}
