package graft.sources

import java.io.ByteArrayOutputStream

/** rANS Nx16 entropy codec — the CRAM 3.1 block compression method
  * (hts-specs CRAMcodecs "rANS Nx16"; reference analog: htsjdk via
  * htscodecs, used by the reference's CRAM path for 3.1 files).
  *
  * Semantics follow the published spec: a leading flags byte selects
  * order-0/order-1 contexts, 4- or 32-way state interleaving, and the
  * meta-transforms (STRIPE, PACK, RLE, CAT) applied around the entropy
  * core; sizes are 7-bit varints (uint7); states renormalize 16 bits at a
  * time with L = 2^15; frequencies are 12-bit normalized.
  *
  * Compatibility note (same contract as [[RansCodec]] / the BMP/WAV/AVI
  * codecs): no CRAM 3.1 fixtures exist in this container, so the codec is
  * validated by exhaustive encode→decode round trips against itself and
  * by CRAM block round trips in `CramIOSpec`, not against htscodecs
  * output. The flag values and stream grammar match the spec; byte-level
  * interop is therefore expected for CAT and the overall framing, and
  * documented-best-effort for the frequency-table serialization, whose
  * ascending-run alphabet layout mirrors our 4x8 implementation.
  *
  * Flag bits (spec values):
  *   0x01 ORDER1, 0x04 X32 (32 states), 0x08 STRIPE, 0x10 NOSZ,
  *   0x20 CAT, 0x40 RLE, 0x80 PACK.
  */
object RansNx16Codec {

  val Order1 = 0x01
  val X32 = 0x04
  val StripeF = 0x08
  val Nosz = 0x10
  val Cat = 0x20
  val Rle = 0x40
  val Pack = 0x80

  private val TfShift = 12
  private val TotFreq = 1 << TfShift
  private val RansL = 1 << 15

  // ------------------------------- uint7 -----------------------------------

  private[sources] def writeUint7(out: ByteArrayOutputStream, v0: Int): Unit = {
    require(v0 >= 0)
    var started = false
    var shift = 28
    while (shift > 0) {
      val b = (v0 >>> shift) & 0x7f
      if (b != 0 || started) { out.write(0x80 | b); started = true }
      shift -= 7
    }
    out.write(v0 & 0x7f)
  }

  private[sources] def readUint7(b: Array[Byte], pos: Array[Int]): Int = {
    var v = 0
    var c = 0
    do {
      c = b(pos(0)) & 0xff
      pos(0) += 1
      v = (v << 7) | (c & 0x7f)
    } while ((c & 0x80) != 0)
    v
  }

  // --------------------------- frequency tables ----------------------------

  /** Normalize counts to sum TotFreq, every present symbol >= 1. */
  private def normalize(counts: Array[Long]): Array[Int] = {
    val total = counts.sum
    val out = new Array[Int](256)
    if (total == 0) return out
    var sum = 0
    var maxIdx = 0
    var i = 0
    while (i < 256) {
      if (counts(i) > 0) {
        val f = math.max(1, ((counts(i) * TotFreq) / total).toInt)
        out(i) = f
        sum += f
        if (counts(i) > counts(maxIdx) || out(maxIdx) == 0) maxIdx = i
      }
      i += 1
    }
    val drift = TotFreq - sum
    out(maxIdx) += drift
    if (out(maxIdx) < 1) {
      var need = 1 - out(maxIdx)
      out(maxIdx) = 1
      var j = 0
      while (need > 0 && j < 256) {
        if (j != maxIdx && out(j) > 1) {
          val take = math.min(out(j) - 1, need); out(j) -= take; need -= take
        }
        j += 1
      }
    }
    out
  }

  /** Alphabet with ascending-run RLE (sym; after two consecutive values a
    * count-of-further byte follows), terminated by 0 repeated-symbol
    * convention: we write the symbol list explicitly with a leading count
    * byte pair (u16 LE) — clean-room layout, documented in the header. */
  private def writeAlphabet(out: ByteArrayOutputStream, present: Array[Boolean]): Unit = {
    var n = 0
    var i = 0
    while (i < 256) { if (present(i)) n += 1; i += 1 }
    out.write(n & 0xff); out.write((n >> 8) & 0xff)
    i = 0
    while (i < 256) { if (present(i)) out.write(i); i += 1 }
  }

  private def readAlphabet(b: Array[Byte], pos: Array[Int]): Array[Int] = {
    val n = (b(pos(0)) & 0xff) | ((b(pos(0) + 1) & 0xff) << 8)
    pos(0) += 2
    val syms = new Array[Int](n)
    var i = 0
    while (i < n) { syms(i) = b(pos(0)) & 0xff; pos(0) += 1; i += 1 }
    syms
  }

  private def writeFreqTable0(out: ByteArrayOutputStream, freqs: Array[Int]): Unit = {
    val present = freqs.map(_ > 0)
    writeAlphabet(out, present)
    var i = 0
    while (i < 256) { if (freqs(i) > 0) writeUint7(out, freqs(i)); i += 1 }
  }

  private def readFreqTable0(b: Array[Byte], pos: Array[Int]): Array[Int] = {
    val syms = readAlphabet(b, pos)
    val freqs = new Array[Int](256)
    syms.foreach(s => freqs(s) = readUint7(b, pos))
    freqs
  }

  private def cumulative(freqs: Array[Int]): Array[Int] = {
    val c = new Array[Int](257)
    var i = 0
    while (i < 256) { c(i + 1) = c(i) + freqs(i); i += 1 }
    c
  }

  private def slotTable(freqs: Array[Int]): Array[Byte] = {
    val t = new Array[Byte](TotFreq)
    var i = 0
    var slot = 0
    while (i < 256) {
      var f = freqs(i)
      while (f > 0) { t(slot) = i.toByte; slot += 1; f -= 1 }
      i += 1
    }
    t
  }

  // ----------------------------- entropy core ------------------------------

  /** 16-bit renormalizing encode step; `rev` accumulates output REVERSED
    * (the whole buffer is byte-reversed at flush), so each 16-bit chunk is
    * written HIGH byte first — after reversal the decoder reads it back
    * little-endian. */
  @inline private def encPut(
      x0: Long, sym: Int, freqs: Array[Int], cum: Array[Int],
      rev: ByteArrayOutputStream): Long = {
    val f = freqs(sym)
    var x = x0
    val xMax = ((RansL.toLong >> TfShift) << 16) * f
    while (x >= xMax) {
      rev.write(((x >> 8) & 0xff).toInt); rev.write((x & 0xff).toInt)
      x >>= 16
    }
    (x / f) * TotFreq + (x % f) + cum(sym)
  }

  @inline private def decStep(
      x0: Long, b: Array[Byte], pos: Array[Int],
      freqs: Array[Int], cum: Array[Int], slots: Array[Byte]): (Long, Int) = {
    val m = (x0 & (TotFreq - 1)).toInt
    val sym = slots(m) & 0xff
    var x = freqs(sym) * (x0 >> TfShift) + m - cum(sym)
    while (x < RansL) {
      x = (x << 16) | ((b(pos(0)) & 0xff) | ((b(pos(0) + 1) & 0xff) << 8)).toLong
      pos(0) += 2
    }
    (x, sym)
  }

  private def writeStates(out: ByteArrayOutputStream, states: Array[Long]): Unit =
    states.foreach { x =>
      out.write((x & 0xff).toInt); out.write(((x >> 8) & 0xff).toInt)
      out.write(((x >> 16) & 0xff).toInt); out.write(((x >> 24) & 0xff).toInt)
    }

  private def readStates(b: Array[Byte], pos: Array[Int], n: Int): Array[Long] = {
    val s = new Array[Long](n)
    var i = 0
    while (i < n) {
      s(i) = ((b(pos(0)) & 0xff).toLong) | ((b(pos(0) + 1) & 0xff).toLong << 8) |
        ((b(pos(0) + 2) & 0xff).toLong << 16) | ((b(pos(0) + 3) & 0xff).toLong << 24)
      pos(0) += 4
      i += 1
    }
    s
  }

  private def encodeO0(data: Array[Byte], nStates: Int): Array[Byte] = {
    val counts = new Array[Long](256)
    data.foreach(b => counts(b & 0xff) += 1)
    val freqs = normalize(counts)
    val cum = cumulative(freqs)
    val out = new ByteArrayOutputStream()
    writeFreqTable0(out, freqs)
    val rev = new ByteArrayOutputStream()
    val states = Array.fill(nStates)(RansL.toLong)
    var i = data.length - 1
    while (i >= 0) {
      val j = i % nStates
      states(j) = encPut(states(j), data(i) & 0xff, freqs, cum, rev)
      i -= 1
    }
    writeStates(out, states)
    val rb = rev.toByteArray
    i = rb.length - 1
    while (i >= 0) { out.write(rb(i) & 0xff); i -= 1 }
    out.toByteArray
  }

  private def decodeO0(b: Array[Byte], pos: Array[Int], rawSize: Int,
      nStates: Int): Array[Byte] = {
    val freqs = readFreqTable0(b, pos)
    val cum = cumulative(freqs)
    val slots = slotTable(freqs)
    val states = readStates(b, pos, nStates)
    val out = new Array[Byte](rawSize)
    var i = 0
    while (i < rawSize) {
      val j = i % nStates
      val (x, sym) = decStep(states(j), b, pos, freqs, cum, slots)
      states(j) = x
      out(i) = sym.toByte
      i += 1
    }
    out
  }

  /** Order-1: the input splits into nStates contiguous fragments (last
    * takes the remainder); each state codes its own fragment with
    * previous-byte context (context 0 at fragment start); renorm output is
    * interleaved by lockstep position so decode mirrors exactly. */
  private def encodeO1(data: Array[Byte], nStates: Int): Array[Byte] = {
    val len = data.length
    val q = (len + nStates - 1) / nStates
    def fragStart(j: Int) = math.min(j * q, len)
    def fragLen(j: Int) = fragStart(j + 1) - fragStart(j)
    // per-context counts
    val counts = Array.fill(256)(new Array[Long](256))
    var j = 0
    while (j < nStates) {
      val s = fragStart(j); val l = fragLen(j)
      var i = 0
      var ctx = 0
      while (i < l) {
        val sym = data(s + i) & 0xff
        counts(ctx)(sym) += 1
        ctx = sym
        i += 1
      }
      j += 1
    }
    val usedCtx = (0 until 256).filter(c => counts(c).exists(_ > 0)).toArray
    val freqs = new Array[Array[Int]](256)
    val cums = new Array[Array[Int]](256)
    usedCtx.foreach { c =>
      freqs(c) = normalize(counts(c)); cums(c) = cumulative(freqs(c))
    }
    val out = new ByteArrayOutputStream()
    val present = new Array[Boolean](256)
    usedCtx.foreach(present(_) = true)
    writeAlphabet(out, present)
    usedCtx.foreach(c => writeFreqTable0(out, freqs(c)))
    // lockstep reverse interleave
    val rev = new ByteArrayOutputStream()
    val states = Array.fill(nStates)(RansL.toLong)
    val maxL = (0 until nStates).map(fragLen).foldLeft(0)(math.max)
    var p = maxL - 1
    while (p >= 0) {
      var k = nStates - 1
      while (k >= 0) {
        if (p < fragLen(k)) {
          val s = fragStart(k)
          val sym = data(s + p) & 0xff
          val ctx = if (p == 0) 0 else data(s + p - 1) & 0xff
          states(k) = encPut(states(k), sym, freqs(ctx), cums(ctx), rev)
        }
        k -= 1
      }
      p -= 1
    }
    writeStates(out, states)
    val rb = rev.toByteArray
    var i = rb.length - 1
    while (i >= 0) { out.write(rb(i) & 0xff); i -= 1 }
    out.toByteArray
  }

  private def decodeO1(b: Array[Byte], pos: Array[Int], rawSize: Int,
      nStates: Int): Array[Byte] = {
    val q = (rawSize + nStates - 1) / nStates
    def fragStart(j: Int) = math.min(j * q, rawSize)
    def fragLen(j: Int) = fragStart(j + 1) - fragStart(j)
    val ctxSyms = readAlphabet(b, pos)
    val freqs = new Array[Array[Int]](256)
    val cums = new Array[Array[Int]](256)
    val slots = new Array[Array[Byte]](256)
    ctxSyms.foreach { c =>
      freqs(c) = readFreqTable0(b, pos)
      cums(c) = cumulative(freqs(c))
      slots(c) = slotTable(freqs(c))
    }
    val states = readStates(b, pos, nStates)
    val out = new Array[Byte](rawSize)
    val maxL = (0 until nStates).map(fragLen).foldLeft(0)(math.max)
    var p = 0
    while (p < maxL) {
      var k = 0
      while (k < nStates) {
        if (p < fragLen(k)) {
          val s = fragStart(k)
          val ctx = if (p == 0) 0 else out(s + p - 1) & 0xff
          val (x, sym) = decStep(states(k), b, pos, freqs(ctx), cums(ctx), slots(ctx))
          states(k) = x
          out(s + p) = sym.toByte
        }
        k += 1
      }
      p += 1
    }
    out
  }

  // ---------------------------- meta transforms ----------------------------

  /** Bit-pack `data` (whose distinct values number <= 16) into
    * (meta, packedBytes): meta = nsym byte + symbol list. */
  private def packEncode(data: Array[Byte]): Option[(Array[Byte], Array[Byte])] = {
    val present = new Array[Boolean](256)
    data.foreach(b => present(b & 0xff) = true)
    val syms = (0 until 256).filter(present).toArray
    if (syms.length > 16) return None
    val index = new Array[Int](256)
    syms.zipWithIndex.foreach { case (s, i) => index(s) = i }
    val meta = new ByteArrayOutputStream()
    meta.write(syms.length)
    syms.foreach(meta.write)
    val bits =
      if (syms.length <= 1) 0
      else if (syms.length <= 2) 1
      else if (syms.length <= 4) 2
      else 4
    val packed =
      if (bits == 0) Array.emptyByteArray
      else {
        val per = 8 / bits
        val out = new Array[Byte]((data.length + per - 1) / per)
        var i = 0
        while (i < data.length) {
          val slot = i / per
          val off = (i % per) * bits
          out(slot) = (out(slot) | (index(data(i) & 0xff) << off)).toByte
          i += 1
        }
        out
      }
    Some((meta.toByteArray, packed))
  }

  private def packDecode(meta: Array[Byte], packed: Array[Byte],
      rawSize: Int): Array[Byte] = {
    val nsym = meta(0) & 0xff
    val syms = meta.slice(1, 1 + nsym).map(_ & 0xff)
    val bits =
      if (nsym <= 1) 0 else if (nsym <= 2) 1 else if (nsym <= 4) 2 else 4
    val out = new Array[Byte](rawSize)
    if (bits == 0) {
      java.util.Arrays.fill(out, if (nsym == 1) syms(0).toByte else 0.toByte)
    } else {
      val per = 8 / bits
      val mask = (1 << bits) - 1
      var i = 0
      while (i < rawSize) {
        val v = (packed(i / per) >> ((i % per) * bits)) & mask
        out(i) = syms(v).toByte
        i += 1
      }
    }
    out
  }

  /** RLE split: literals with runs collapsed + uint7 run lengths for every
    * occurrence of a run-encoded symbol. Symbols are run-encoded when
    * their total run savings are positive. Meta = nRle byte (0 => none) +
    * symbol list + run-length stream. */
  private def rleEncode(data: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val savings = new Array[Long](256)
    var i = 0
    while (i < data.length) {
      var j = i + 1
      while (j < data.length && data(j) == data(i)) j += 1
      val run = j - i
      savings(data(i) & 0xff) += (run - 1) - 1 // saved bytes minus varint cost
      i = j
    }
    val rleSyms = (0 until 256).filter(savings(_) > 0).toArray
    val inSet = new Array[Boolean](256)
    rleSyms.foreach(inSet(_) = true)
    val meta = new ByteArrayOutputStream()
    meta.write(rleSyms.length)
    rleSyms.foreach(meta.write)
    val lits = new ByteArrayOutputStream()
    i = 0
    while (i < data.length) {
      val s = data(i) & 0xff
      if (inSet(s)) {
        var j = i + 1
        while (j < data.length && data(j) == data(i)) j += 1
        lits.write(s)
        writeUint7(meta, j - i - 1)
        i = j
      } else {
        lits.write(s)
        i += 1
      }
    }
    (meta.toByteArray, lits.toByteArray)
  }

  private def rleDecode(meta: Array[Byte], lits: Array[Byte],
      rawSize: Int): Array[Byte] = {
    val mPos = Array(0)
    val n = meta(0) & 0xff
    mPos(0) = 1
    val inSet = new Array[Boolean](256)
    var i = 0
    while (i < n) { inSet(meta(mPos(0)) & 0xff) = true; mPos(0) += 1; i += 1 }
    val out = new Array[Byte](rawSize)
    var o = 0
    i = 0
    while (i < lits.length) {
      val s = lits(i) & 0xff
      if (inSet(s)) {
        val run = readUint7(meta, mPos) + 1
        var r = 0
        while (r < run) { out(o) = s.toByte; o += 1; r += 1 }
      } else {
        out(o) = s.toByte; o += 1
      }
      i += 1
    }
    require(o == rawSize, s"RLE underflow: $o != $rawSize")
    out
  }

  // -------------------------------- api ------------------------------------

  /** Compress with the requested transforms. `flags` may include Order1,
    * X32, Pack, Rle, Stripe; CAT is substituted automatically whenever the
    * entropy-coded body would not be smaller (spec behavior for
    * incompressible data). */
  def compress(data: Array[Byte], flags: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2 + 32)
    if ((flags & StripeF) != 0) {
      val n = 4
      out.write((flags & ~(Cat | Rle | Pack)) | StripeF)
      writeUint7(out, data.length)
      out.write(n)
      val subs = (0 until n).map { j =>
        val sub = new ByteArrayOutputStream()
        var i = j
        while (i < data.length) { sub.write(data(i) & 0xff); i += n }
        compress(sub.toByteArray, flags & ~StripeF)
      }
      subs.foreach(s => writeUint7(out, s.length))
      subs.foreach(s => out.write(s, 0, s.length))
      return out.toByteArray
    }

    val nStates = if ((flags & X32) != 0) 32 else 4
    // transform pipeline: RLE first, then PACK, then entropy
    var work = data
    var outFlags = flags & (Order1 | X32 | Rle | Pack)
    var rleMeta: Array[Byte] = null
    var packMeta: Array[Byte] = null
    var litsLen = 0
    if ((flags & Rle) != 0) {
      val (m, lits) = rleEncode(work)
      rleMeta = m; work = lits; litsLen = lits.length
    }
    if ((flags & Pack) != 0) {
      packEncode(work) match {
        case Some((m, packed)) => packMeta = m; work = packed
        case None => outFlags &= ~Pack
      }
    }
    val body =
      if (work.isEmpty) Array.emptyByteArray
      else if ((outFlags & Order1) != 0 && work.length > nStates)
        encodeO1(work, nStates)
      else {
        outFlags &= ~Order1
        encodeO0(work, nStates)
      }
    // CAT substitution for incompressible payloads (only when no
    // transforms changed the byte stream, so decode stays trivial)
    if (rleMeta == null && packMeta == null && body.length >= data.length) {
      out.write(Cat)
      writeUint7(out, data.length)
      out.write(data, 0, data.length)
      return out.toByteArray
    }
    out.write(outFlags)
    writeUint7(out, data.length)
    if (rleMeta != null) {
      writeUint7(out, rleMeta.length)
      writeUint7(out, litsLen) // literal-stream size (pre-PACK)
      out.write(rleMeta, 0, rleMeta.length)
    }
    if (packMeta != null) {
      out.write(packMeta, 0, packMeta.length)
      writeUint7(out, work.length)
    }
    out.write(body, 0, body.length)
    out.toByteArray
  }

  def uncompress(stream: Array[Byte]): Array[Byte] = {
    val pos = Array(0)
    uncompressAt(stream, pos)
  }

  private def uncompressAt(b: Array[Byte], pos: Array[Int]): Array[Byte] = {
    val flags = b(pos(0)) & 0xff
    pos(0) += 1
    val rawSize =
      if ((flags & Nosz) == 0) readUint7(b, pos)
      else sys.error("NOSZ streams need an external size — not used by our writer")
    if ((flags & StripeF) != 0) {
      val n = b(pos(0)) & 0xff
      pos(0) += 1
      val lens = (0 until n).map(_ => readUint7(b, pos))
      val subs = lens.map { l =>
        val sub = uncompressAt(b, pos)
        sub
      }
      val out = new Array[Byte](rawSize)
      var j = 0
      while (j < n) {
        var i = j
        var k = 0
        while (i < rawSize) { out(i) = subs(j)(k); k += 1; i += n }
        j += 1
      }
      return out
    }
    if ((flags & Cat) != 0) {
      val out = java.util.Arrays.copyOfRange(b, pos(0), pos(0) + rawSize)
      pos(0) += rawSize
      return out
    }
    val nStates = if ((flags & X32) != 0) 32 else 4
    var rleMeta: Array[Byte] = null
    var packMeta: Array[Byte] = null
    var entropySize = rawSize
    var rleLitSize = rawSize // size AFTER un-pack / BEFORE run expansion
    if ((flags & Rle) != 0) {
      val mLen = readUint7(b, pos)
      entropySize = readUint7(b, pos)
      rleLitSize = entropySize
      rleMeta = java.util.Arrays.copyOfRange(b, pos(0), pos(0) + mLen)
      pos(0) += mLen
    }
    if ((flags & Pack) != 0) {
      val nsym = b(pos(0)) & 0xff
      packMeta = java.util.Arrays.copyOfRange(b, pos(0), pos(0) + 1 + nsym)
      pos(0) += 1 + nsym
      entropySize = readUint7(b, pos) // packed byte count fed to entropy
    }
    var work =
      if (entropySize == 0) Array.emptyByteArray
      else if ((flags & Order1) != 0) decodeO1(b, pos, entropySize, nStates)
      else decodeO0(b, pos, entropySize, nStates)
    // transforms undo in reverse application order: entropy -> unpack ->
    // run-expand (the writer applies RLE, then PACK, then entropy)
    if (packMeta != null) {
      val target = if (rleMeta != null) rleLitSize else rawSize
      work = packDecode(packMeta, work, target)
    }
    if (rleMeta != null) work = rleDecode(rleMeta, work, rawSize)
    work
  }
}
