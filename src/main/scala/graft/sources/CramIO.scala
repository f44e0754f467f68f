package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.util.zip.{CRC32, Deflater, GZIPInputStream, GZIPOutputStream}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, SparkSession}
import graft.core.GenomicDataset
import graft.model._

/** CRAM 3.0 container IO, from the public CRAM specification (the
  * reference reads CRAM through htsjdk, ADAMContext loadBam dispatch —
  * absent here, so this is a from-spec implementation of a documented
  * SUBSET):
  *
  *  - container / block / slice structure with itf8/ltf8 varints and CRCs;
  *  - block methods raw, gzip, rANS 4x8 ([[RansCodec]]) and the CRAM 3.1
  *    rANS Nx16 ([[RansNx16Codec]]), each validated by round-trip; 3.1
  *    files are accepted on read, and `WriteProfile(version31 = true)`
  *    emits a 3.1 file with Nx16-coded quality blocks and
  *    name-tokenized RN blocks ([[NameTokCodec]], method 8); the
  *    adaptive-arithmetic method ([[ArithCodec]], method 6) and the
  *    fqzcomp-style quality method ([[FqzCodec]], method 7) decode on
  *    read and are emitted under `WriteProfile(fqzQuals/arithBlocks)` —
  *    ALL FOUR 3.1 codec methods are implemented, round-trip gated;
  *  - all data series in EXTERNAL blocks (a legal encoding choice the
  *    writer declares in the compression header); reads decode EXTERNAL,
  *    BYTE_ARRAY_STOP, and constant single-symbol HUFFMAN encodings and
  *    reject others with a clear error;
  *  - referenceless profile (preservation RR=false): mapped reads carry
  *    their bases as read features ('b'/'S'/'I'/'D'/'N'/'H'/'P'), so no
  *    reference is needed in either direction. '='/'X' CIGAR ops collapse
  *    to M on round trip;
  *  - tags of types A/i/f/Z via the TD tag dictionary + per-tag external
  *    blocks.
  *
  * Write is driver-streamed (like indexed BAM writes); read parallelizes
  * per CONTAINER: the driver scans container offsets (headers only, no
  * payload decompression) and executors decode containers independently.
  */
object CramIO {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  private val Magic = Array[Byte]('C', 'R', 'A', 'M', 3, 0)
  private val Magic31 = Array[Byte]('C', 'R', 'A', 'M', 3, 1)

  /** The CRAM 3.0 spec's literal 38-byte EOF container (section 9 of the
    * specification; validated byte-for-byte by htsjdk/samtools). */
  private val EofContainer: Array[Byte] = Array(
    0x0f, 0x00, 0x00, 0x00, // container length 15
    0xff, 0xff, 0xff, 0xff, 0x0f, // refSeqId -1 (itf8)
    0xe0, 0x45, 0x4f, 0x46, // alignmentStart 4542278 ("EOF")
    0x00, // alignmentSpan 0
    0x00, // nRecords 0
    0x00, // recordCounter 0 (ltf8)
    0x00, // bases 0 (ltf8)
    0x01, // nBlocks 1
    0x00, // nLandmarks 0
    0x05, 0xbd, 0xd9, 0x4f, // header CRC32
    0x00, 0x01, 0x00, 0x06, 0x06, // block: raw, comp-header, id 0, 6/6
    0x01, 0x00, 0x01, 0x00, 0x01, 0x00, // empty compression header
    0xee, 0x63, 0x01, 0x4b // block CRC32
  ).map(_.toByte)

  // ------------------------------ varints ----------------------------------

  private[sources] def writeItf8(out: ByteArrayOutputStream, v0: Int): Unit = {
    val v = v0
    if ((v >> 7) == 0 && v >= 0) out.write(v)
    else if ((v >> 14) == 0 && v >= 0) {
      out.write(0x80 | (v >> 8)); out.write(v & 0xff)
    } else if ((v >> 21) == 0 && v >= 0) {
      out.write(0xc0 | (v >> 16)); out.write((v >> 8) & 0xff); out.write(v & 0xff)
    } else if ((v >> 28) == 0 && v >= 0) {
      out.write(0xe0 | (v >> 24)); out.write((v >> 16) & 0xff)
      out.write((v >> 8) & 0xff); out.write(v & 0xff)
    } else {
      out.write(0xf0 | ((v >> 28) & 0x0f)); out.write((v >> 20) & 0xff)
      out.write((v >> 12) & 0xff); out.write((v >> 4) & 0xff); out.write(v & 0x0f)
    }
  }

  private[sources] def readItf8(in: InputStream): Int = {
    val b0 = in.read()
    if (b0 < 0) throw new EOFException("itf8")
    if ((b0 & 0x80) == 0) b0
    else if ((b0 & 0x40) == 0) ((b0 & 0x3f) << 8) | in.read()
    else if ((b0 & 0x20) == 0)
      ((b0 & 0x1f) << 16) | (in.read() << 8) | in.read()
    else if ((b0 & 0x10) == 0)
      ((b0 & 0x0f) << 24) | (in.read() << 16) | (in.read() << 8) | in.read()
    else
      ((b0 & 0x0f) << 28) | (in.read() << 20) | (in.read() << 12) |
        (in.read() << 4) | (in.read() & 0x0f)
  }

  private[sources] def writeLtf8(out: ByteArrayOutputStream, v: Long): Unit = {
    // always the maximal 9-byte form (legal for any value; readers accept
    // all prefix lengths)
    out.write(0xff)
    var k = 7
    while (k >= 0) { out.write(((v >> (8 * k)) & 0xff).toInt); k -= 1 }
  }

  private[sources] def readLtf8(in: InputStream): Long = {
    val b0 = in.read()
    if (b0 < 0) throw new EOFException("ltf8")
    var extra = 0
    var mask = 0x80
    while (extra < 8 && (b0 & mask) != 0) { extra += 1; mask >>= 1 }
    if (extra == 0) return b0.toLong
    var v: Long =
      if (extra == 8) 0L else (b0 & ((1 << (7 - extra)) - 1)).toLong
    var k = 0
    while (k < extra) { v = (v << 8) | in.read(); k += 1 }
    v
  }

  // ------------------------------- blocks ----------------------------------

  private val MethodRaw = 0
  private val MethodGzip = 1
  private val MethodRans = 4
  private val MethodRansNx16 = 5
  private val MethodArith = 6
  private val MethodFqz = 7
  private val MethodNameTok = 8

  /** InputStream.skip may short-skip (Hadoop streams do); loop to the
    * requested count. */
  private def skipFully(in: InputStream, n: Long): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s > 0) left -= s
      else if (in.read() < 0) throw new EOFException("skip")
      else left -= 1
    }
  }

  private def gzip(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos) {
      this.`def`.setLevel(Deflater.DEFAULT_COMPRESSION)
    }
    gz.write(data); gz.close()
    bos.toByteArray
  }

  private def gunzip(data: Array[Byte], rawSize: Int): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(data))
    val out = new Array[Byte](rawSize)
    var o = 0
    while (o < rawSize) {
      val r = in.read(out, o, rawSize - o)
      if (r < 0) throw new EOFException("gzip block")
      o += r
    }
    out
  }

  private case class Block(contentType: Int, contentId: Int, data: Array[Byte])

  private def writeBlock(out: ByteArrayOutputStream, b: Block,
      method: Int = MethodGzip): Unit = {
    val (m, payload) =
      if (b.data.isEmpty) (MethodRaw, b.data)
      else method match {
        case MethodGzip => (MethodGzip, gzip(b.data))
        case MethodRans => (MethodRans, RansCodec.compress(b.data, 1))
        case MethodRansNx16 =>
          (MethodRansNx16, RansNx16Codec.compress(b.data, RansNx16Codec.Order1))
        case MethodNameTok =>
          (MethodNameTok, NameTokCodec.compressByteStream(b.data, '\t'))
        case MethodArith =>
          (MethodArith, ArithCodec.compress(b.data, ArithCodec.Order1))
        case MethodFqz => (MethodFqz, FqzCodec.compressByteStream(b.data))
        case _ => (MethodRaw, b.data)
      }
    val hdr = new ByteArrayOutputStream()
    hdr.write(m); hdr.write(b.contentType)
    writeItf8(hdr, b.contentId)
    writeItf8(hdr, payload.length)
    writeItf8(hdr, b.data.length)
    withCrc(out, hdr.toByteArray ++ payload)
  }

  /** `b` and then its CRC32 (a block, or a container header). */
  private def withCrc(out: ByteArrayOutputStream, b: Array[Byte]): Unit = {
    out.write(b, 0, b.length)
    val crc = new CRC32
    crc.update(b)
    SamIO.le32(out, crc.getValue.toInt)
  }

  /** A container: its header (alignment start and span 0) and `body`. */
  private def container(body: Array[Byte], refSeqId: Int, nRecords: Int,
      counter: Long, bases: Long, nBlocks: Int, landmarks: Seq[Int]): Array[Byte] = {
    val hdr = new ByteArrayOutputStream()
    SamIO.le32(hdr, body.length)
    writeItf8(hdr, refSeqId); writeItf8(hdr, 0); writeItf8(hdr, 0)
    writeItf8(hdr, nRecords)
    writeLtf8(hdr, counter); writeLtf8(hdr, bases)
    writeItf8(hdr, nBlocks)
    writeItf8(hdr, landmarks.length)
    landmarks.foreach(writeItf8(hdr, _))
    val out = new ByteArrayOutputStream()
    withCrc(out, hdr.toByteArray)
    out.write(body, 0, body.length)
    out.toByteArray
  }

  private def readBlock(in: InputStream): Block = {
    val method = in.read()
    val contentType = in.read()
    val contentId = readItf8(in)
    val compSize = readItf8(in)
    val rawSize = readItf8(in)
    val payload = new Array[Byte](compSize)
    var o = 0
    while (o < compSize) {
      val r = in.read(payload, o, compSize - o)
      if (r < 0) throw new EOFException("block payload")
      o += r
    }
    skipFully(in, 4) // block CRC (verified structurally by decode)
    val data = method match {
      case MethodRaw => payload
      case MethodGzip => gunzip(payload, rawSize)
      case MethodRans => RansCodec.uncompress(payload)
      case MethodRansNx16 => RansNx16Codec.uncompress(payload)
      case MethodNameTok => NameTokCodec.uncompressByteStream(payload, '\t')
      case MethodArith => ArithCodec.uncompress(payload)
      case MethodFqz => FqzCodec.uncompressByteStream(payload)
      case other =>
        throw new UnsupportedOperationException(
          s"CRAM block compression method $other not supported " +
            "(supported: raw, gzip, rANS 4x8, rANS Nx16, arith, fqzcomp, name-tok)")
    }
    Block(contentType, contentId, data)
  }

  // --------------------------- data series ids -----------------------------

  private val SeriesIds: Map[String, Int] = Map(
    "BF" -> 1, "CF" -> 2, "RI" -> 3, "RL" -> 4, "AP" -> 5, "RG" -> 6,
    "RN" -> 7, "MF" -> 8, "NS" -> 9, "NP" -> 10, "TS" -> 11, "TL" -> 12,
    "FN" -> 13, "FC" -> 14, "FP" -> 15, "DL" -> 16, "BB" -> 17, "SC" -> 18,
    "IN" -> 19, "RS" -> 20, "HC" -> 21, "PD" -> 22, "MQ" -> 23, "BA" -> 24,
    "QS" -> 25, "NF" -> 26, "BS" -> 27, "QQ" -> 28)
  private val EncExternal = 1
  private val EncGolomb = 2
  private val EncHuffman = 3
  private val EncByteArrayLen = 4
  private val EncByteArrayStop = 5
  private val EncBeta = 6
  private val EncSubexp = 7
  private val EncGolombRice = 8
  private val EncGamma = 9

  // ------------------------ encodings / bit io -----------------------------

  /** A data-series encoding, as declared in the compression header.
    * EXTERNAL/BYTE_ARRAY_STOP read byte streams; BETA and HUFFMAN read the
    * shared CORE bit stream (MSB-first); a zero-bit single-symbol HUFFMAN
    * is a constant. */
  private sealed trait SeriesEnc
  private case class ExtEnc(id: Int) extends SeriesEnc
  private case class StopEnc(stop: Byte, id: Int) extends SeriesEnc
  private case class ConstEnc(value: Int) extends SeriesEnc
  private case class BetaEnc(offset: Int, nbits: Int) extends SeriesEnc
  private case class GammaEnc(offset: Int) extends SeriesEnc
  private case class SubexpEnc(offset: Int, k: Int) extends SeriesEnc
  private case class GolombEnc(offset: Int, m: Int) extends SeriesEnc
  private case class RiceEnc(offset: Int, log2m: Int) extends SeriesEnc
  /** BYTE_ARRAY_LEN: nested (length encoding, value encoding). */
  private case class ByteArrayLenEnc(lenEnc: SeriesEnc, valEnc: SeriesEnc)
      extends SeriesEnc
  private case class HuffEnc(symbols: Array[Int], lens: Array[Int]) extends SeriesEnc {
    /** canonical codes: symbols ranked by (len, symbol value) — the spec's
      * canonical order, independent of declaration order. */
    lazy val codes: Array[Int] = {
      val order = symbols.indices.sortBy(i => (lens(i), symbols(i)))
      val out = new Array[Int](symbols.length)
      var code = 0
      var prevLen = 0
      order.foreach { i =>
        code = if (prevLen == 0) 0 else (code + 1) << (lens(i) - prevLen)
        out(i) = code
        prevLen = lens(i)
      }
      out
    }
    lazy val decode: Map[(Int, Int), Int] =
      symbols.indices.map(i => (lens(i), codes(i)) -> symbols(i)).toMap
  }

  private final class BitWriter {
    private val bos = new ByteArrayOutputStream()
    private var cur = 0
    private var nIn = 0
    def write(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1)
        nIn += 1
        if (nIn == 8) { bos.write(cur); cur = 0; nIn = 0 }
        i -= 1
      }
    }
    def result(): Array[Byte] = {
      if (nIn > 0) { bos.write(cur << (8 - nIn)); cur = 0; nIn = 0 }
      bos.toByteArray
    }
  }

  private final class BitReader(b: Array[Byte]) {
    private var pos = 0
    private var bit = 0
    def readBit(): Int = {
      val v = (b(pos) >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      v
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
  }

  /** The CRAM core-stream integer codecs beyond BETA/HUFFMAN: Elias
    * gamma, subexponential, Golomb, and Golomb-Rice — bit-level layouts
    * per the CRAM 3.0 spec section 13 (encode + decode, so round-trip
    * property tests cover them without external fixtures). */
  private[sources] object IntCodecs {
    // Elias gamma: value >= 1; floor(log2 v) zeros, then v in log2+1 bits
    def writeGamma(w: BitWriter, v: Int): Unit = {
      require(v >= 1, s"gamma requires positive value, got $v")
      val n = 31 - Integer.numberOfLeadingZeros(v)
      w.write(0, n)
      w.write(v, n + 1)
    }
    def readGamma(r: BitReader): Int = {
      var len = 1
      while (r.readBit() == 0) len += 1
      r.readBits(len - 1) | (1 << (len - 1))
    }

    // subexponential(k): unary u (ones, 0-terminated) + b-bit mantissa
    def writeSubexp(w: BitWriter, v: Int, k: Int): Unit = {
      require(v >= 0, s"subexp requires non-negative value, got $v")
      val b = if (v < (1 << k)) k else 31 - Integer.numberOfLeadingZeros(v)
      val u = if (v < (1 << k)) 0 else b - k + 1
      var i = 0
      while (i < u) { w.write(1, 1); i += 1 }
      w.write(0, 1)
      w.write(v, b) // low b bits; the leading 1 is implied when u > 0
    }
    def readSubexp(r: BitReader, k: Int): Int = {
      var u = 0
      while (r.readBit() == 1) u += 1
      if (u == 0) r.readBits(k)
      else {
        val b = u + k - 1
        (1 << b) | r.readBits(b)
      }
    }

    // Golomb(m): quotient unary (ones, 0-terminated) + truncated-binary
    // remainder. GOLOMB_RICE is the power-of-two special case.
    def writeGolomb(w: BitWriter, v: Int, m: Int): Unit = {
      require(v >= 0 && m >= 1, s"golomb v=$v m=$m")
      val q = v / m
      val rem = v % m
      var i = 0
      while (i < q) { w.write(1, 1); i += 1 }
      w.write(0, 1)
      val ceilBits = 32 - Integer.numberOfLeadingZeros(m) // floor(log2 m)+1
      val threshold = (1 << ceilBits) - m
      if (rem < threshold) w.write(rem, ceilBits - 1)
      else w.write(rem + threshold, ceilBits)
    }
    def readGolomb(r: BitReader, m: Int): Int = {
      var q = 0
      while (r.readBit() == 1) q += 1
      val ceilBits = 32 - Integer.numberOfLeadingZeros(m)
      val threshold = (1 << ceilBits) - m
      var rem = if (ceilBits > 1) r.readBits(ceilBits - 1) else 0
      if (rem >= threshold) rem = ((rem << 1) | r.readBit()) - threshold
      q * m + rem
    }

    def writeRice(w: BitWriter, v: Int, log2m: Int): Unit = {
      require(v >= 0, s"rice requires non-negative value, got $v")
      val q = v >>> log2m
      var i = 0
      while (i < q) { w.write(1, 1); i += 1 }
      w.write(0, 1)
      w.write(v & ((1 << log2m) - 1), log2m)
    }
    def readRice(r: BitReader, log2m: Int): Int = {
      var q = 0
      while (r.readBit() == 1) q += 1
      (q << log2m) | (if (log2m > 0) r.readBits(log2m) else 0)
    }
  }

  // test-only handles (round-trip properties without external fixtures)
  private[sources] def codecRoundTrip(
      which: String, values: Seq[Int], param: Int): Seq[Int] = {
    val w = new BitWriter
    which match {
      case "gamma" => values.foreach(IntCodecs.writeGamma(w, _))
      case "subexp" => values.foreach(IntCodecs.writeSubexp(w, _, param))
      case "golomb" => values.foreach(IntCodecs.writeGolomb(w, _, param))
      case "rice" => values.foreach(IntCodecs.writeRice(w, _, param))
    }
    val r = new BitReader(w.result())
    values.map { _ =>
      which match {
        case "gamma" => IntCodecs.readGamma(r)
        case "subexp" => IntCodecs.readSubexp(r, param)
        case "golomb" => IntCodecs.readGolomb(r, param)
        case "rice" => IntCodecs.readRice(r, param)
      }
    }
  }

  // ------------------------- compression header ----------------------------

  private case class TagDef(t1: Char, t2: Char, typ: Char) {
    def contentId: Int = (t1.toInt << 16) | (t2.toInt << 8) | typ.toInt
    def key: String = s"$t1$t2"
  }

  private case class CompressionHeader(
      seriesEnc: Map[String, SeriesEnc],
      tagLines: IndexedSeq[Seq[TagDef]],
      tagEnc: Map[Int, SeriesEnc] = Map.empty,
      readNamesIncluded: Boolean = true,
      apDelta: Boolean = false,
      refRequired: Boolean = false,
      substMatrix: Array[Byte] = DefaultSubstMatrix)

  /** Default substitution matrix: for each ref base (ACGTN), the four
    * substitute bases in ACGTN-minus-ref order get codes 0..3. */
  private val DefaultSubstMatrix: Array[Byte] =
    Array(0x1b, 0x1b, 0x1b, 0x1b, 0x1b).map(_.toByte) // 00 01 10 11 per byte

  private val SubstBases = "ACGTN"

  /** Decode a substitution code: ref base + 2-bit code -> read base. */
  private def substituteBase(sm: Array[Byte], refBase: Char, code: Int): Char = {
    val ri = SubstBases.indexOf(Character.toUpperCase(refBase)) match {
      case -1 => 4
      case i => i
    }
    val candidates = SubstBases.filter(_ != SubstBases(ri))
    val b = sm(ri) & 0xff
    var j = 0
    while (j < 4) {
      if (((b >> (2 * (3 - j))) & 3) == code) return candidates(j)
      j += 1
    }
    'N'
  }

  /** Default encoding per series: EXTERNAL, RN via BYTE_ARRAY_STOP. */
  private def defaultEncodings: Map[String, SeriesEnc] =
    SeriesIds.map { case (key, id) =>
      key -> (if (key == "RN") StopEnc('\t', id) else ExtEnc(id))
    }

  private def writeEncodingSpec(em: ByteArrayOutputStream, e: SeriesEnc): Unit = {
    val params = new ByteArrayOutputStream()
    val codec = e match {
      case ExtEnc(id) => writeItf8(params, id); EncExternal
      case StopEnc(stop, id) =>
        params.write(stop); writeItf8(params, id); EncByteArrayStop
      case ConstEnc(v) =>
        writeItf8(params, 1); writeItf8(params, v)
        writeItf8(params, 1); writeItf8(params, 0)
        EncHuffman
      case h: HuffEnc =>
        writeItf8(params, h.symbols.length)
        h.symbols.foreach(writeItf8(params, _))
        writeItf8(params, h.lens.length)
        h.lens.foreach(writeItf8(params, _))
        EncHuffman
      case BetaEnc(offset, nbits) =>
        writeItf8(params, offset); writeItf8(params, nbits); EncBeta
      case GammaEnc(offset) => writeItf8(params, offset); EncGamma
      case SubexpEnc(offset, k) =>
        writeItf8(params, offset); writeItf8(params, k); EncSubexp
      case GolombEnc(offset, m) =>
        writeItf8(params, offset); writeItf8(params, m); EncGolomb
      case RiceEnc(offset, log2m) =>
        writeItf8(params, offset); writeItf8(params, log2m); EncGolombRice
      case ByteArrayLenEnc(lenEnc, valEnc) =>
        writeEncodingSpec(params, lenEnc)
        writeEncodingSpec(params, valEnc)
        EncByteArrayLen
    }
    writeItf8(em, codec)
    val p = params.toByteArray
    writeItf8(em, p.length); em.write(p, 0, p.length)
  }

  private def writeCompressionHeader(
      tagLines: IndexedSeq[Seq[TagDef]],
      encodings: Map[String, SeriesEnc],
      readNames: Boolean, apDelta: Boolean, refRequired: Boolean): Block = {
    val out = new ByteArrayOutputStream()
    // preservation map: RN, AP(delta), RR, TD=dictionary
    val pm = new ByteArrayOutputStream()
    writeItf8(pm, 4)
    def kv(k: String, v: Int): Unit = { pm.write(k(0)); pm.write(k(1)); pm.write(v) }
    kv("RN", if (readNames) 1 else 0)
    kv("AP", if (apDelta) 1 else 0)
    kv("RR", if (refRequired) 1 else 0)
    pm.write('T'); pm.write('D')
    val td = new ByteArrayOutputStream()
    tagLines.foreach { line =>
      line.foreach { t => td.write(t.t1); td.write(t.t2); td.write(t.typ) }
      td.write(0)
    }
    val tdBytes = td.toByteArray
    writeItf8(pm, tdBytes.length)
    pm.write(tdBytes, 0, tdBytes.length)
    val pmBytes = pm.toByteArray
    writeItf8(out, pmBytes.length)
    out.write(pmBytes, 0, pmBytes.length)

    // data series encoding map
    val em = new ByteArrayOutputStream()
    writeItf8(em, encodings.size)
    encodings.toSeq.sortBy(_._1).foreach { case (key, e) =>
      em.write(key(0)); em.write(key(1))
      writeEncodingSpec(em, e)
    }
    val emBytes = em.toByteArray
    writeItf8(out, emBytes.length)
    out.write(emBytes, 0, emBytes.length)

    // tag encoding map: per tag, BYTE_ARRAY_STOP? values are
    // concatenated BAM-typed bytes in the tag's own external block —
    // declare EXTERNAL (we parse by type)
    val tm = new ByteArrayOutputStream()
    val tags = tagLines.flatten.distinct
    writeItf8(tm, tags.length)
    tags.foreach { t =>
      writeItf8(tm, t.contentId)
      writeItf8(tm, EncExternal)
      val params = new ByteArrayOutputStream()
      writeItf8(params, t.contentId)
      val p = params.toByteArray
      writeItf8(tm, p.length); tm.write(p, 0, p.length)
    }
    val tmBytes = tm.toByteArray
    writeItf8(out, tmBytes.length)
    out.write(tmBytes, 0, tmBytes.length)

    Block(1, 0, out.toByteArray)
  }

  /** One encoding spec (codec id + params), recursive for BYTE_ARRAY_LEN.
    * Returns None for the NULL encoding (series absent). */
  private def readEncodingSpec(in: InputStream, label: String): Option[SeriesEnc] = {
    val codec = readItf8(in)
    val plen = readItf8(in)
    val params = new Array[Byte](plen)
    var got = 0
    while (got < plen) {
      val r = in.read(params, got, plen - got)
      if (r < 0) throw new EOFException("encoding params")
      got += r
    }
    val pin = new ByteArrayInputStream(params)
    codec match {
      case 0 => None
      case EncExternal => Some(ExtEnc(readItf8(pin)))
      case EncByteArrayStop =>
        val stop = pin.read().toByte
        Some(StopEnc(stop, readItf8(pin)))
      case EncByteArrayLen =>
        val lenEnc = readEncodingSpec(pin, s"$label.len").getOrElse(
          throw new UnsupportedOperationException(
            s"BYTE_ARRAY_LEN for $label declares NULL length encoding"))
        val valEnc = readEncodingSpec(pin, s"$label.val").getOrElse(
          throw new UnsupportedOperationException(
            s"BYTE_ARRAY_LEN for $label declares NULL value encoding"))
        Some(ByteArrayLenEnc(lenEnc, valEnc))
      case EncHuffman =>
        val nSyms = readItf8(pin)
        val symbols = Array.fill(nSyms)(readItf8(pin))
        val nLens = readItf8(pin)
        val lens = Array.fill(nLens)(readItf8(pin))
        Some(
          if (nSyms == 1) ConstEnc(symbols(0))
          else HuffEnc(symbols, lens))
      case EncBeta =>
        val offset = readItf8(pin)
        val nbits = readItf8(pin)
        Some(BetaEnc(offset, nbits))
      case EncGamma => Some(GammaEnc(readItf8(pin)))
      case EncSubexp =>
        val offset = readItf8(pin)
        val k = readItf8(pin)
        Some(SubexpEnc(offset, k))
      case EncGolomb =>
        val offset = readItf8(pin)
        val m = readItf8(pin)
        Some(GolombEnc(offset, m))
      case EncGolombRice =>
        val offset = readItf8(pin)
        val log2m = readItf8(pin)
        Some(RiceEnc(offset, log2m))
      case other =>
        throw new UnsupportedOperationException(
          s"CRAM encoding codec $other for $label not supported " +
            "(supported: EXTERNAL, GOLOMB, HUFFMAN, BYTE_ARRAY_LEN, " +
            "BYTE_ARRAY_STOP, BETA, SUBEXP, GOLOMB_RICE, GAMMA)")
    }
  }

  private def readCompressionHeader(b: Block): CompressionHeader = {
    val in = new ByteArrayInputStream(b.data)
    // preservation map
    readItf8(in) // size
    val nPm = readItf8(in)
    var tagLines: IndexedSeq[Seq[TagDef]] = IndexedSeq(Seq.empty)
    var readNames = true
    var apDelta = false
    var refRequired = false
    var substMatrix = DefaultSubstMatrix
    var i = 0
    while (i < nPm) {
      val key = new String(Array(in.read().toByte, in.read().toByte))
      key match {
        case "TD" =>
          val len = readItf8(in)
          val bytes = new Array[Byte](len)
          in.read(bytes)
          val lines = IndexedSeq.newBuilder[Seq[TagDef]]
          var o = 0
          var cur = Seq.newBuilder[TagDef]
          while (o < len) {
            if (bytes(o) == 0) { lines += cur.result(); cur = Seq.newBuilder; o += 1 }
            else {
              cur += TagDef(bytes(o).toChar, bytes(o + 1).toChar, bytes(o + 2).toChar)
              o += 3
            }
          }
          val ls = lines.result()
          if (ls.nonEmpty) tagLines = ls
        case "SM" =>
          val sm = new Array[Byte](5)
          var got = 0
          while (got < 5) {
            val r = in.read(sm, got, 5 - got)
            if (r < 0) throw new EOFException("SM")
            got += r
          }
          substMatrix = sm
        case "RN" => readNames = in.read() != 0
        case "AP" => apDelta = in.read() != 0
        case "RR" => refRequired = in.read() != 0
        case _ => in.read() // unknown boolean prescription byte
      }
      i += 1
    }
    // data series encodings
    readItf8(in)
    val nEm = readItf8(in)
    val enc = Map.newBuilder[String, SeriesEnc]
    i = 0
    while (i < nEm) {
      val key = new String(Array(in.read().toByte, in.read().toByte))
      readEncodingSpec(in, s"series $key").foreach(e => enc += key -> e)
      i += 1
    }
    // tag encodings: content id -> encoding (values are BAM-typed bytes)
    val tagEnc = Map.newBuilder[Int, SeriesEnc]
    val tmLenAvailable = in.available() > 0
    if (tmLenAvailable) {
      readItf8(in)
      val nTm = readItf8(in)
      i = 0
      while (i < nTm) {
        val id = readItf8(in)
        readEncodingSpec(in, f"tag 0x$id%06x").foreach(e => tagEnc += id -> e)
        i += 1
      }
    }
    CompressionHeader(enc.result(), tagLines, tagEnc.result(),
      readNames, apDelta, refRequired, substMatrix)
  }

  // ------------------------------ writing ----------------------------------

  private class SeriesWriter(enc: Map[String, SeriesEnc]) {
    val streams = scala.collection.mutable.Map.empty[Int, ByteArrayOutputStream]
    val core = new BitWriter
    def s(id: Int): ByteArrayOutputStream =
      streams.getOrElseUpdate(id, new ByteArrayOutputStream())
    def itf8(series: String, v: Int): Unit =
      encodeIntWith(enc(series), v, s"series $series")
    // feature codes are ASCII < 0x80, so the raw byte equals its itf8 form
    def byte(series: String, v: Int): Unit = itf8(series, v)
    def bytes(series: String, b: Array[Byte]): Unit = enc(series) match {
      case ExtEnc(id) => s(id).write(b, 0, b.length)
      case StopEnc(_, id) => s(id).write(b, 0, b.length)
      case ByteArrayLenEnc(_, ExtEnc(id)) => s(id).write(b, 0, b.length)
      case other => throw new IllegalStateException(
        s"series $series carries byte payloads; encoding $other invalid")
    }
    /** Self-delimiting byte array (mirrors SeriesReader.byteArray):
      * EXTERNAL -> legacy itf8-length prefix + bytes; BYTE_ARRAY_STOP ->
      * bytes + stop; BYTE_ARRAY_LEN -> length via nested int encoding,
      * bytes via the value encoding. */
    def byteArray(series: String, b: Array[Byte]): Unit = enc(series) match {
      case ExtEnc(id) =>
        writeItf8(s(id), b.length); s(id).write(b, 0, b.length)
      case StopEnc(stop, id) =>
        s(id).write(b, 0, b.length); s(id).write(stop)
      case ByteArrayLenEnc(lenEnc, valEnc) =>
        encodeIntWith(lenEnc, b.length, s"$series.len")
        valEnc match {
          case ExtEnc(id) => s(id).write(b, 0, b.length)
          case other =>
            b.foreach(x => encodeIntWith(other, x & 0xff, s"$series.val"))
        }
      case other => throw new IllegalStateException(
        s"series $series carries byte payloads; encoding $other invalid")
    }
    private def encodeIntWith(e: SeriesEnc, v: Int, label: String): Unit = e match {
      case ExtEnc(id) => writeItf8(s(id), v)
      case StopEnc(_, id) => writeItf8(s(id), v)
      case ConstEnc(c) =>
        require(v == c, s"$label declared constant $c, got $v")
      case BetaEnc(offset, nbits) => core.write(v + offset, nbits)
      case GammaEnc(offset) => IntCodecs.writeGamma(core, v + offset)
      case SubexpEnc(offset, k) => IntCodecs.writeSubexp(core, v + offset, k)
      case GolombEnc(offset, m) => IntCodecs.writeGolomb(core, v + offset, m)
      case RiceEnc(offset, log2m) => IntCodecs.writeRice(core, v + offset, log2m)
      case h: HuffEnc =>
        val i = h.symbols.indexOf(v)
        require(i >= 0, s"$label: symbol $v not in huffman alphabet")
        core.write(h.codes(i), h.lens(i))
      case other => throw new IllegalStateException(
        s"$label: integer value under $other")
    }
  }

  private case class Feat(code: Char, pos: Int, lenOrBytes: Either[Int, Array[Byte]])

  /** cigar + stored bases -> CRAM read features (1-based in-read pos). */
  private def buildFeatures(r: Alignment, seq: String): Seq[Feat] = {
    val feats = Seq.newBuilder[Feat]
    var readPos = 1
    Cigar.parse(r.cigar.getOrElse(s"${seq.length}M")).foreach { e =>
      e.op match {
        case 'M' | '=' | 'X' | 'S' | 'I' =>
          val code = e.op match {
            case 'M' | '=' | 'X' => 'b'
            case other => other
          }
          feats += Feat(code, readPos,
            Right(seq.substring(readPos - 1,
              math.min(seq.length, readPos - 1 + e.length)).getBytes("UTF-8")))
          readPos += e.length
        case 'D' => feats += Feat('D', readPos, Left(e.length.toInt))
        case 'N' => feats += Feat('N', readPos, Left(e.length.toInt))
        case 'H' => feats += Feat('H', readPos, Left(e.length.toInt))
        case 'P' => feats += Feat('P', readPos, Left(e.length.toInt))
        case _ =>
      }
    }
    feats.result()
  }

  private def bitsFor(maxV: Int): Int =
    math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, maxV)))

  /** Equal-length canonical huffman over the given alphabet (single symbol
    * degenerates to a zero-bit constant). */
  private def huffFor(symbols: Seq[Int]): SeriesEnc =
    if (symbols.size == 1) ConstEnc(symbols.head)
    else {
      val sorted = symbols.sorted.toArray
      val len = bitsFor(symbols.size - 1)
      HuffEnc(sorted, Array.fill(sorted.length)(len))
    }

  /** Writer behavior knobs. The default profile matches round-2 output
    * byte-for-byte; the other switches exercise spec features that
    * external writers use (so the reader's envelope is testable without
    * external fixtures). */
  case class WriteProfile(
      core: Boolean = false, // BETA/HUFFMAN core encodings for int series
      extraCodecs: Boolean = false, // GAMMA/SUBEXP/GOLOMB/RICE core codecs
      byteArrayLen: Boolean = false, // BB/SC via BYTE_ARRAY_LEN
      apDelta: Boolean = false, // delta-coded alignment positions
      attachedMates: Boolean = false, // NF-linked in-slice pairs
      readNames: Boolean = true, // RN=false drops names (generated on read)
      recordsPerSlice: Int = Int.MaxValue, // multi-slice containers
      refBased: Boolean = false, // RR=true: matches as gaps, mismatches 'X'
      embedRef: Boolean = false, // embed slice reference block (single-ref)
      reference: Option[graft.core.ReferenceSource] = None,
      version31: Boolean = false, // emit CRAM 3.1 with rANS Nx16 blocks
      fqzQuals: Boolean = false, // 3.1: QS blocks via the fqzcomp-style codec
      arithBlocks: Boolean = false) // 3.1: other ext blocks via arith coder

  /** Reference-based read features (preservation RR=true): bases matching
    * the reference become implicit gaps, mismatches become substitution
    * codes ('X' via the substitution matrix), non-ACGTN mismatches fall
    * back to literal single-base 'b' features. */
  private def buildFeaturesRef(r: Alignment, seq: String,
      ref: graft.core.ReferenceSource): Seq[Feat] = {
    val feats = Seq.newBuilder[Feat]
    var readPos = 1
    var refPos = r.start.getOrElse(0L)
    val contig = r.referenceName.getOrElse(
      throw new IllegalArgumentException("refBased write needs referenceName"))
    Cigar.parse(r.cigar.getOrElse(s"${seq.length}M")).foreach { e =>
      e.op match {
        case 'M' | '=' | 'X' =>
          val n = e.length.toInt
          val refSpan = ref.extract(ReferenceRegion(contig, refPos, refPos + n))
          var k = 0
          while (k < n) {
            val rb = if (k < refSpan.length)
              Character.toUpperCase(refSpan(k)) else 'N'
            val qb = Character.toUpperCase(seq(readPos - 1 + k))
            if (qb != rb) {
              val ri = SubstBases.indexOf(rb)
              val ci =
                if (ri >= 0) SubstBases.filter(_ != SubstBases(ri)).indexOf(qb)
                else -1
              if (ci >= 0) {
                val code = (DefaultSubstMatrix(ri) >> (2 * (3 - ci))) & 3
                feats += Feat('X', readPos + k, Left(code))
              } else
                feats += Feat('b', readPos + k,
                  Right(Array(seq(readPos - 1 + k).toByte)))
            }
            k += 1
          }
          readPos += n; refPos += n
        case 'S' | 'I' =>
          feats += Feat(e.op, readPos,
            Right(seq.substring(readPos - 1,
              math.min(seq.length, readPos - 1 + e.length.toInt)).getBytes("UTF-8")))
          readPos += e.length.toInt
        case 'D' => feats += Feat('D', readPos, Left(e.length.toInt)); refPos += e.length
        case 'N' => feats += Feat('N', readPos, Left(e.length.toInt)); refPos += e.length
        case 'H' => feats += Feat('H', readPos, Left(e.length.toInt))
        case 'P' => feats += Feat('P', readPos, Left(e.length.toInt))
        case _ =>
      }
    }
    feats.result()
  }

  /** '='/'X' CIGAR preservation: the referenceless profile encodes M/=/X
    * runs uniformly as 'b' base features, so the decoder reconstructs M.
    * When the original CIGAR distinguishes =/X, stash it in the local-use
    * tag `zC:Z:` (lowercase-first tags are reserved for local use by the
    * SAM spec §1.5, so the file stays interoperable — foreign readers see
    * the standard M collapse plus an ignorable tag); [[decodeRecords]]
    * restores the CIGAR and strips the tag. Byte-identical CIGARs through
    * SAM→BAM→CRAM→read, no reference needed. */
  private def preserveEqX(r: Alignment): Alignment =
    r.cigar match {
      case Some(c) if r.readMapped.getOrElse(false) &&
        (c.contains('=') || c.contains('X')) =>
        r.copy(attributes = r.attributes + ("zC" -> ("Z:" + c)))
      case _ => r
    }

  /** A mapped read without bases (SEQ '*') is stored as CF 0x8 (unknown
    * bases) over 'N's, RL long as its CIGAR reads, so the read features
    * still carry the CIGAR; the reader drops the bases again. */
  private def basesUnknown(r: Alignment): Boolean =
    r.readMapped.getOrElse(false) && r.sequence.forall(_.isEmpty) &&
      r.cigar.exists(Cigar.readLength(_) > 0)

  private def storedSeq(r: Alignment): String =
    if (basesUnknown(r)) "N" * Cigar.readLength(r.cigar.get).toInt
    else r.sequence.getOrElse("")

  private def encodeContainer(
      records0: Seq[Alignment], refIndex: Map[String, Int],
      rgIndex: Map[String, Int], counterStart: Long,
      profile: WriteProfile): Array[Byte] = {
    val records = records0.map(preserveEqX)

    // tag dictionary for this container; each tag's BAM bytes are its
    // key, its type and then the value bytes the tag's block stores
    val recTags: Seq[Seq[(TagDef, Array[Byte])]] = records.map { r =>
      val bam = new ByteArrayOutputStream()
      r.attributes.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        bam.reset()
        if (SamIO.writeTag(k, v, bam)) {
          val b = bam.toByteArray
          Some((TagDef(k(0), k(1), b(2).toChar), b))
        } else None
      }
    }
    val tagLines: IndexedSeq[Seq[TagDef]] =
      recTags.map(_.map(_._1)).distinct.toIndexedSeq
    val lineIdx: Map[Seq[TagDef], Int] = tagLines.zipWithIndex.toMap

    // feature pre-pass: needed for the record loop and (core profile) for
    // encoding parameter selection
    val refForWrite =
      if (profile.refBased)
        Some(profile.reference.getOrElse(throw new IllegalArgumentException(
          "WriteProfile.refBased requires WriteProfile.reference")))
      else None
    val recFeats: Seq[Option[Seq[Feat]]] = records.map { r =>
      if (r.readMapped.getOrElse(false))
        refForWrite match {
          case Some(ref) if r.referenceName.isDefined && !basesUnknown(r) =>
            Some(buildFeaturesRef(r, r.sequence.getOrElse(""), ref))
          case _ => Some(buildFeatures(r, storedSeq(r)))
        }
      else None
    }

    val encodings: Map[String, SeriesEnc] = {
      var e = defaultEncodings
      if (profile.core) {
        val allFeats = recFeats.flatten.flatten
        val maxRL = records.map(storedSeq(_).length).maxOption.getOrElse(1)
        val maxFN = recFeats.flatten.map(_.length).maxOption.getOrElse(1)
        val maxFP = allFeats.map(_.pos).maxOption.getOrElse(1)
        val fcAlphabet = allFeats.map(_.code.toInt).distinct
        e = e ++ Map(
          "RL" -> BetaEnc(0, bitsFor(maxRL)),
          "MQ" -> BetaEnc(0, 8),
          "FN" -> BetaEnc(0, bitsFor(maxFN)),
          "FP" -> BetaEnc(0, bitsFor(maxFP)),
          "TL" -> huffFor(tagLines.indices)) ++
          (if (fcAlphabet.nonEmpty) Map("FC" -> huffFor(fcAlphabet)) else Map.empty)
      }
      if (profile.extraCodecs)
        e = e ++ Map(
          "FP" -> GammaEnc(1), // deltas >= 0; gamma needs >= 1
          "DL" -> SubexpEnc(0, 2),
          "HC" -> RiceEnc(0, 2),
          "RS" -> GolombEnc(0, 3))
      if (profile.byteArrayLen)
        e = e ++ Map(
          // lengths via a dedicated external stream and via the core
          // bit stream — both shapes appear in external files
          "BB" -> ByteArrayLenEnc(ExtEnc(30), ExtEnc(SeriesIds("BB"))),
          "SC" -> ByteArrayLenEnc(GammaEnc(1), ExtEnc(SeriesIds("SC"))))
      e
    }

    val slices = records.zip(recTags).zip(recFeats)
      .grouped(math.max(1, profile.recordsPerSlice)).toSeq

    val sliceBlobs: Seq[(Seq[Block], Block, Array[Byte])] = // ext, hdr, core
      slices.zipWithIndex.map { case (sliceRecs, sliceIdx) =>
        val w = new SeriesWriter(encodings)
        val tagStreams = scala.collection.mutable.Map.empty[Int, ByteArrayOutputStream]
        val sliceCounter =
          counterStart + slices.take(sliceIdx).map(_.length).sum

        // in-slice mate pairing (first two records sharing a name)
        val pairOf = scala.collection.mutable.Map.empty[Int, Int] // i -> j
        val pointee = scala.collection.mutable.Set.empty[Int]
        if (profile.attachedMates) {
          val byName = sliceRecs.zipWithIndex
            .filter(_._1._1._1.readPaired.getOrElse(false))
            .groupBy(_._1._1._1.readName)
          byName.foreach {
            case (Some(_), xs) if xs.length == 2 =>
              val i = xs(0)._2; val j = xs(1)._2
              pairOf(i) = j; pointee += j
            case _ =>
          }
        }

        // single-reference slice (required for an embedded reference
        // block): only when every record maps to one contig
        val sliceRefId: Int =
          if (!profile.embedRef) -2
          else sliceRecs.map(_._1._1.referenceName.flatMap(refIndex.get))
            .distinct match {
            case Seq(Some(ci)) => ci
            case _ => -2
          }
        val (sliceAlignStart, sliceSpan) =
          if (sliceRefId >= 0) {
            val starts = sliceRecs.flatMap(_._1._1.start)
            val ends = sliceRecs.flatMap(_._1._1.end)
            val mn = starts.minOption.getOrElse(0L)
            val mx = ends.maxOption.getOrElse(mn)
            ((mn + 1).toInt, (mx - mn).toInt)
          } else (0, 0)

        var prevAp = sliceAlignStart
        sliceRecs.zipWithIndex.foreach { case (((r, tags), featsOpt), i) =>
          val downstream = pairOf.contains(i)
          val attached = pointee.contains(i)
          val bf = SamIO.flagOf(r)
          w.itf8("BF", bf)
          val cf = 1 | // qualities preserved
            (if (downstream) 4 else if (attached) 0 else 2) |
            (if (basesUnknown(r)) 8 else 0)
          w.itf8("CF", cf)
          if (sliceRefId == -2)
            w.itf8("RI", r.referenceName.flatMap(refIndex.get).getOrElse(-1))
          val seq = storedSeq(r)
          w.itf8("RL", seq.length)
          val apValue = r.start.map(_ + 1).getOrElse(0L).toInt
          if (profile.apDelta) {
            w.itf8("AP", apValue - prevAp)
            prevAp = apValue
          } else w.itf8("AP", apValue)
          w.itf8("RG", r.readGroupId.flatMap(rgIndex.get).getOrElse(-1))
          val nameBytes = r.readName.getOrElse("").getBytes("UTF-8")
          if (profile.readNames) w.byteArray("RN", nameBytes)
          if ((cf & 2) != 0) {
            // detached mate info
            w.itf8("MF", (if ((bf & SamIO.MateReverse.bit) != 0) 1 else 0) |
              (if ((bf & SamIO.MateUnmapped.bit) != 0) 2 else 0))
            if (!profile.readNames) w.byteArray("RN", nameBytes)
            w.itf8("NS", r.mateReferenceName.flatMap(refIndex.get).getOrElse(-1))
            w.itf8("NP", r.mateAlignmentStart.map(_ + 1).getOrElse(0L).toInt)
            w.itf8("TS", r.insertSize.getOrElse(0L).toInt)
          } else if (downstream) {
            w.itf8("NF", pairOf(i) - i - 1)
          }
          w.itf8("TL", lineIdx(tags.map(_._1)))
          tags.foreach { case (t, b) =>
            tagStreams.getOrElseUpdate(t.contentId, new ByteArrayOutputStream())
              .write(b, 3, b.length - 3)
          }

          featsOpt match {
            case Some(fs) =>
              w.itf8("FN", fs.length)
              var last = 0
              fs.foreach { f =>
                w.byte("FC", f.code)
                w.itf8("FP", f.pos - last)
                last = f.pos
                (f.code, f.lenOrBytes) match {
                  case ('b', Right(bs)) => w.byteArray("BB", bs)
                  case ('S', Right(bs)) => w.byteArray("SC", bs)
                  case ('I', Right(bs)) => w.byteArray("IN", bs)
                  case ('X', Left(code)) => w.itf8("BS", code)
                  case ('D', Left(l)) => w.itf8("DL", l)
                  case ('N', Left(l)) => w.itf8("RS", l)
                  case ('H', Left(l)) => w.itf8("HC", l)
                  case ('P', Left(l)) => w.itf8("PD", l)
                  case _ =>
                }
              }
              w.itf8("MQ", r.mappingQuality.getOrElse(255))
            case None =>
              w.bytes("BA", seq.getBytes("UTF-8"))
          }
          val qb = new ByteArrayOutputStream(seq.length)
          SamIO.writeQuality(r, seq.length, qb)
          w.bytes("QS", qb.toByteArray)
        }

        val coreData = w.core.result()
        // embedded reference block: the slice's contig span, content id 29
        val embeddedRefBlock: Option[Block] =
          if (sliceRefId >= 0 && profile.embedRef) refForWrite.map { ref =>
            val contig = sliceRecs.head._1._1.referenceName.get
            Block(4, 29, ref.extract(ReferenceRegion(contig,
              sliceAlignStart - 1L,
              sliceAlignStart - 1L + sliceSpan)).getBytes("UTF-8"))
          } else None
        val extBlocks =
          (w.streams.toSeq.map { case (id, s) => Block(4, id, s.toByteArray) } ++
            tagStreams.toSeq.map { case (id, s) => Block(4, id, s.toByteArray) } ++
            embeddedRefBlock.toSeq)
            .sortBy(_.contentId)

        val sliceHdr = {
          val out = new ByteArrayOutputStream()
          writeItf8(out, sliceRefId)
          writeItf8(out, sliceAlignStart); writeItf8(out, sliceSpan)
          writeItf8(out, sliceRecs.length)
          writeLtf8(out, sliceCounter)
          writeItf8(out, extBlocks.length + 1) // + core block
          writeItf8(out, extBlocks.length)
          extBlocks.foreach(b => writeItf8(out, b.contentId))
          writeItf8(out, embeddedRefBlock.fold(-1)(_.contentId))
          out.write(new Array[Byte](16)) // MD5 zero (not computed)
          Block(2, 0, out.toByteArray)
        }
        (extBlocks, sliceHdr, coreData)
      }

    val payload = new ByteArrayOutputStream()
    writeBlock(payload, writeCompressionHeader(tagLines, encodings,
      profile.readNames, profile.apDelta, profile.refBased))
    val landmarks = Seq.newBuilder[Int]
    var totalBlocks = 1
    sliceBlobs.foreach { case (extBlocks, sliceHdr, coreData) =>
      landmarks += payload.size()
      writeBlock(payload, sliceHdr)
      writeBlock(payload, Block(5, 0, coreData), MethodRaw) // core bit stream
      extBlocks.foreach { b =>
        // qualities compress best with order-1 rANS (Nx16 in 3.1 files);
        // the rest gzip
        val method =
          if (b.contentId == SeriesIds("QS"))
            (if (profile.version31 && profile.fqzQuals) MethodFqz
             else if (profile.version31) MethodRansNx16
             else MethodRans)
          else if (b.contentId == SeriesIds("RN") && profile.version31)
            MethodNameTok
          else if (profile.version31 && profile.arithBlocks) MethodArith
          else MethodGzip
        writeBlock(payload, b, method)
      }
      totalBlocks += 2 + extBlocks.length
    }
    container(payload.toByteArray, -2, records.length, counterStart,
      records.map(_.sequence.map(_.length.toLong).getOrElse(0L)).sum, totalBlocks,
      landmarks.result())
  }

  /** Write with a `.crai` index sidecar (gzipped text, spec columns:
    * seqId, start, span, container offset, slice offset, slice size) —
    * enables region-pruned reads via [[readIndexed]]. */
  def writeIndexed(gd: GenomicDataset[Alignment], path: String,
      recordsPerContainer: Int = 10000): Unit =
    write(gd, path, recordsPerContainer, writeIndex = true)

  /** `coreProfile=true` declares BETA/HUFFMAN core-bit-stream encodings
    * for RL/MQ/FN/FP/FC/TL instead of EXTERNAL — exercises the core
    * codec path end-to-end (and shrinks those series). `profile` exposes
    * the full [[WriteProfile]] knob set. */
  def write(gd: GenomicDataset[Alignment], path: String,
      recordsPerContainer: Int = 10000, writeIndex: Boolean = false,
      coreProfile: Boolean = false,
      profile: Option[WriteProfile] = None): Unit = {
    val prof = profile.getOrElse(WriteProfile(core = coreProfile))
    val meta = gd.meta
    val refIndex = meta.sequences.records.zipWithIndex
      .map { case (r, i) => r.name -> i }.toMap
    val rgIndex = meta.readGroups.readGroups.zipWithIndex
      .map { case (rg, i) => rg.id -> i }.toMap
    val headerText = SamIO.headerLines(meta, gd.sorted).mkString("", "\n", "\n")

    val p = new Path(path)
    val fs = p.getFileSystem(gd.spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try {
      out.write(if (prof.version31) Magic31 else Magic)
      val fileId = new Array[Byte](20)
      val pb = path.getBytes("UTF-8")
      System.arraycopy(pb, 0, fileId, 0, math.min(20, pb.length))
      out.write(fileId)

      // header container: one raw block holding i32 length + SAM text
      {
        val text = new ByteArrayOutputStream()
        val t = headerText.getBytes("UTF-8")
        SamIO.le32(text, t.length)
        text.write(t, 0, t.length)
        val payload = new ByteArrayOutputStream()
        writeBlock(payload, Block(0, 0, text.toByteArray), MethodRaw)
        out.write(container(payload.toByteArray, 0, 0, 0L, 0L, 1, Nil))
      }

      var counter = 0L
      val craiLines = Seq.newBuilder[String]
      val it = gd.records.toLocalIterator
      val buf = scala.collection.mutable.ArrayBuffer.empty[Alignment]
      def flush(): Unit = if (buf.nonEmpty) {
        val containerOffset = out.getPos
        val body = encodeContainer(buf.toSeq, refIndex, rgIndex, counter,
          prof)
        out.write(body)
        if (writeIndex) {
          // one index line per referenced contig span in this container
          buf.toSeq.groupBy(_.referenceName.flatMap(refIndex.get))
            .foreach {
              case (Some(ri), rs) =>
                val starts = rs.flatMap(_.start)
                if (starts.nonEmpty) {
                  val mn = starts.min
                  val mx = rs.flatMap(_.end).maxOption.getOrElse(mn + 1)
                  craiLines += Seq(ri, mn + 1, mx - mn,
                    containerOffset, 0, body.length).mkString("\t")
                }
              case _ =>
            }
        }
        counter += buf.length
        buf.clear()
      }
      while (it.hasNext) {
        buf += it.next()
        if (buf.length >= recordsPerContainer) flush()
      }
      flush()
      if (writeIndex) {
        val craiOut = new GZIPOutputStream(
          fs.create(new Path(path + ".crai"), true))
        try craiOut.write(
          craiLines.result().mkString("", "\n", "\n").getBytes("UTF-8"))
        finally craiOut.close()
      }
      // EOF sentinel: the spec's literal CRAM 3.0 EOF container bytes
      // (htsjdk/samtools validate this exact sequence)
      out.write(EofContainer)
    } finally out.close()
  }

  // ------------------------------ reading ----------------------------------

  private case class ContainerHeader(
      length: Int, refSeqId: Int, nRecords: Int, nBlocks: Int)

  private def readContainerHeader(in: InputStream): Option[ContainerHeader] = {
    val b0 = in.read()
    if (b0 < 0) return None
    val len = b0 | (in.read() << 8) | (in.read() << 16) | (in.read() << 24)
    val refSeqId = readItf8(in)
    readItf8(in); readItf8(in)
    val nRecords = readItf8(in)
    readLtf8(in); readLtf8(in)
    val nBlocks = readItf8(in)
    val nLandmarks = readItf8(in)
    var i = 0
    while (i < nLandmarks) { readItf8(in); i += 1 }
    skipFully(in, 4) // CRC
    Some(ContainerHeader(len, refSeqId, nRecords, nBlocks))
  }

  /** itf8 decoded straight off the array; returns the new offset in the
    * high int and the value in the low int via a packed long (avoids a
    * stream allocation per field per record). */
  private def itf8At(b: Array[Byte], o: Int): Long = {
    val b0 = b(o) & 0xff
    if ((b0 & 0x80) == 0) ((o + 1).toLong << 32) | (b0.toLong & 0xffffffffL)
    else if ((b0 & 0x40) == 0)
      ((o + 2).toLong << 32) | ((((b0 & 0x3f) << 8) | (b(o + 1) & 0xff)).toLong & 0xffffffffL)
    else if ((b0 & 0x20) == 0)
      ((o + 3).toLong << 32) | ((((b0 & 0x1f) << 16) | ((b(o + 1) & 0xff) << 8) |
        (b(o + 2) & 0xff)).toLong & 0xffffffffL)
    else if ((b0 & 0x10) == 0)
      ((o + 4).toLong << 32) | ((((b0 & 0x0f) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)).toLong & 0xffffffffL)
    else
      ((o + 5).toLong << 32) | ((((b0 & 0x0f) << 28) | ((b(o + 1) & 0xff) << 20) |
        ((b(o + 2) & 0xff) << 12) | ((b(o + 3) & 0xff) << 4) |
        (b(o + 4) & 0x0f)).toLong & 0xffffffffL)
  }

  private class SeriesReader(
      blocks: Map[Int, Array[Byte]], ch: CompressionHeader,
      core: Array[Byte]) {
    private val pos = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    private val bits = new BitReader(core)
    private def stream(series: String): Int = ch.seriesEnc.get(series) match {
      case Some(ExtEnc(id)) => id
      case Some(StopEnc(_, id)) => id
      case other =>
        throw new UnsupportedOperationException(
          s"series $series is not byte-stream encoded ($other)")
    }
    private def block(id: Int): Array[Byte] = blocks.getOrElse(id,
      throw new IllegalStateException(s"external block $id absent from slice"))

    private def decodeInt(label: String, e: SeriesEnc): Int = e match {
      case ConstEnc(c) => c
      case BetaEnc(offset, nbits) => bits.readBits(nbits) - offset
      case GammaEnc(offset) => IntCodecs.readGamma(bits) - offset
      case SubexpEnc(offset, k) => IntCodecs.readSubexp(bits, k) - offset
      case GolombEnc(offset, m) => IntCodecs.readGolomb(bits, m) - offset
      case RiceEnc(offset, log2m) => IntCodecs.readRice(bits, log2m) - offset
      case h: HuffEnc =>
        var acc = 0
        var len = 0
        while (len < 32) {
          acc = (acc << 1) | bits.readBit()
          len += 1
          h.decode.get((len, acc)) match {
            case Some(sym) => return sym
            case None =>
          }
        }
        throw new IllegalStateException(s"$label: bad huffman code")
      case ExtEnc(id) =>
        val packed = itf8At(block(id), pos(id))
        pos(id) = (packed >>> 32).toInt
        packed.toInt
      case StopEnc(_, id) =>
        val packed = itf8At(block(id), pos(id))
        pos(id) = (packed >>> 32).toInt
        packed.toInt
      case other => throw new UnsupportedOperationException(
        s"$label: integer read under $other")
    }

    def itf8(series: String): Int = ch.seriesEnc.get(series) match {
      case Some(e) => decodeInt(s"series $series", e)
      case None => throw new UnsupportedOperationException(
        s"series $series has no declared encoding")
    }

    def bytes(series: String, n: Int): Array[Byte] = {
      val id = stream(series)
      val b = block(id)
      val out = java.util.Arrays.copyOfRange(b, pos(id), pos(id) + n)
      pos(id) += n
      out
    }

    /** Self-delimiting byte array under the declared encoding:
      * BYTE_ARRAY_STOP reads to the stop byte; BYTE_ARRAY_LEN reads a
      * length via its nested int encoding then that many value bytes;
      * EXTERNAL uses this writer's legacy convention (itf8 length prefix
      * in the same stream). */
    def byteArrayEnc(label: String, e: SeriesEnc): Array[Byte] = e match {
      case StopEnc(stop, id) =>
        val b = block(id)
        var end = pos(id)
        while (end < b.length && b(end) != stop) end += 1
        val out = java.util.Arrays.copyOfRange(b, pos(id), end)
        pos(id) = end + 1
        out
      case ByteArrayLenEnc(lenEnc, valEnc) =>
        val n = decodeInt(s"$label.len", lenEnc)
        valEnc match {
          case ExtEnc(id) =>
            val b = block(id)
            val out = java.util.Arrays.copyOfRange(b, pos(id), pos(id) + n)
            pos(id) += n
            out
          case other =>
            val out = new Array[Byte](n)
            var i = 0
            while (i < n) {
              out(i) = decodeInt(s"$label.val", other).toByte; i += 1
            }
            out
        }
      case ExtEnc(id) =>
        val b = block(id)
        val packed = itf8At(b, pos(id))
        val start = (packed >>> 32).toInt
        val n = packed.toInt
        val out = java.util.Arrays.copyOfRange(b, start, start + n)
        pos(id) = start + n
        out
      case other => throw new UnsupportedOperationException(
        s"$label: byte-array read under $other")
    }

    /** Byte array of a data series whose payload length is part of the
      * encoding (or, legacy, itf8-prefixed in the external stream). */
    def byteArray(series: String): Array[Byte] = ch.seriesEnc.get(series) match {
      case Some(e) => byteArrayEnc(s"series $series", e)
      case None => throw new UnsupportedOperationException(
        s"series $series has no declared encoding")
    }

    // feature codes are ASCII < 0x80: raw byte == its itf8 form, and core
    // encodings route through the same dispatch
    def byte(series: String): Int = itf8(series)

    def untilStop(series: String, stop: Byte): String = {
      val id = stream(series)
      val b = block(id)
      var e = pos(id)
      while (e < b.length && b(e) != stop) e += 1
      val s = new String(b, pos(id), e - pos(id), "UTF-8")
      pos(id) = e + 1
      s
    }

    def tagBytes(id: Int, n: Int): Array[Byte] = {
      val b = block(id)
      val out = java.util.Arrays.copyOfRange(b, pos(id), pos(id) + n)
      pos(id) += n
      out
    }
    def tagUntilNul(id: Int): Array[Byte] = {
      val b = block(id)
      var e = pos(id)
      while (e < b.length && b(e) != 0) e += 1
      val out = java.util.Arrays.copyOfRange(b, pos(id), e)
      pos(id) = e + 1
      out
    }

    /** One tag value for this record: raw BAM-typed bytes, via the
      * declared tag encoding when present (external writers), else this
      * writer's EXTERNAL + type-implied-length convention. */
    def tagValue(t: TagDef): Array[Byte] = ch.tagEnc.get(t.contentId) match {
      case Some(e: ByteArrayLenEnc) => byteArrayEnc(s"tag ${t.key}", e)
      case Some(e: StopEnc) => byteArrayEnc(s"tag ${t.key}", e)
      case _ =>
        t.typ match {
          case 'Z' | 'H' => tagUntilNul(t.contentId)
          case 'B' =>
            val head = tagBytes(t.contentId, 5)
            head ++ tagBytes(t.contentId, SamIO.le(head, 1, 4) * SamIO.width(head(0).toChar))
          case typ => tagBytes(t.contentId, SamIO.width(typ))
        }
    }
  }

  private case class SliceHeader(
      refSeqId: Int, alignmentStart: Int, alignmentSpan: Int,
      nRecords: Int, recordCounter: Long, nBlocks: Int, embeddedRefId: Int)

  private def parseSliceHeader(data: Array[Byte]): SliceHeader = {
    val in = new ByteArrayInputStream(data)
    val refSeqId = readItf8(in)
    val start = readItf8(in)
    val span = readItf8(in)
    val n = readItf8(in)
    val counter = readLtf8(in)
    val nBlocks = readItf8(in)
    val nIds = readItf8(in)
    var i = 0
    while (i < nIds) { readItf8(in); i += 1 }
    val embeddedRefId = if (in.available() > 0) readItf8(in) else -1
    SliceHeader(refSeqId, start, span, n, counter, nBlocks, embeddedRefId)
  }

  /** One embedded-reference block's coverage, indexed at driver scan:
    * contig id + 1-based slice span + the absolute file offset of the
    * block (bases are fetched lazily, never held on the driver). */
  private[sources] case class EmbeddedSpan(
      refSeqId: Int, start1: Long, span: Long, blockOff: Long)

  /** Lazily-fetched embedded-reference bases for multi-container
    * embedded-reference spans: a slice that is reference-compressed but
    * carries NO embedded block of its own resolves its window against a
    * covering span embedded by ANOTHER container of the same file.
    *
    * Scale: the driver ships only the (contig, span, offset) index; each
    * EXECUTOR fetches a needed block once (seek + one block decompress)
    * and caches it for the broadcast's lifetime — no genome-sized driver
    * map, no fetch at all for files that never cross slice boundaries. */
  private[sources] class HarvestedRefs(file: String, conf: HadoopConf,
      spans: Array[EmbeddedSpan]) extends Serializable {
    @transient private lazy val cache =
      new java.util.concurrent.ConcurrentHashMap[Long, Array[Byte]]()
    def nSpans: Int = spans.length
    private def fetch(off: Long): Array[Byte] =
      cache.computeIfAbsent(off, { o =>
        val p = new Path(file)
        val fin = p.getFileSystem(conf.value).open(p)
        try { fin.seek(o); readBlock(fin).data } finally fin.close()
      })
    /** Bases for the 0-based window [start0, start0+len) on contig `ri`,
      * if some embedded span covers it entirely. */
    def bases(ri: Int, start0: Long, len: Int): Option[String] = {
      var i = 0
      while (i < spans.length) {
        val s = spans(i)
        if (s.refSeqId == ri && start0 >= s.start1 - 1 &&
            start0 + len <= s.start1 - 1 + s.span) {
          val b = fetch(s.blockOff)
          val off = (start0 - (s.start1 - 1)).toInt
          if (off + len <= b.length)
            return Some(new String(b, off, len, "UTF-8"))
        }
        i += 1
      }
      None
    }
  }

  /** Walk one data container's BODY indexing embedded-reference blocks:
    * decompress only the tiny compression-header and slice-header blocks,
    * seek past every payload. Stream is left positioned arbitrarily; the
    * caller re-seeks. Malformed bodies abort the index for this container
    * (the decode path will raise its own, better error). */
  private def indexEmbeddedRefs(in: org.apache.hadoop.fs.FSDataInputStream,
      bodyStart: Long, bodyLen: Int): Seq[EmbeddedSpan] = {
    val out = Seq.newBuilder[EmbeddedSpan]
    try {
      in.seek(bodyStart)
      val end = bodyStart + bodyLen
      // compression header block: header only, skip payload
      skipBlock(in)
      while (in.getPos < end) {
        val sh = readBlock(in) // slice header: small, must decompress
        if (sh.contentType != 2) return out.result()
        val slice = parseSliceHeader(sh.data)
        var i = 0
        while (i < slice.nBlocks) {
          val blockOff = in.getPos
          val (ct, cid) = skipBlock(in)
          if (slice.embeddedRefId >= 0 && ct == 4 &&
              cid == slice.embeddedRefId)
            out += EmbeddedSpan(slice.refSeqId, slice.alignmentStart.toLong,
              slice.alignmentSpan.toLong, blockOff)
          i += 1
        }
      }
    } catch { case _: java.io.IOException | _: RuntimeException => }
    out.result()
  }

  /** Read a block's header and seek past its payload + CRC; returns
    * (contentType, contentId). */
  private def skipBlock(
      in: org.apache.hadoop.fs.FSDataInputStream): (Int, Int) = {
    in.read() // method
    val contentType = in.read()
    val contentId = readItf8(in)
    val compSize = readItf8(in)
    readItf8(in) // raw size
    in.seek(in.getPos + compSize + 4)
    (contentType, contentId)
  }

  /** Decode a whole container body: compression header + one or MORE
    * slices (external writers emit multi-slice containers). When the
    * container header's record count is known, the decoded total is
    * validated against it so a structural desync fails loudly instead of
    * silently dropping records. */
  private[sources] def decodeContainer(
      data: Array[Byte], refNames: Array[String],
      rgIds: Array[String], expectedRecords: Int = -1,
      reference: Option[graft.core.ReferenceSource] = None,
      harvested: Option[HarvestedRefs] = None): Seq[Alignment] = {
    val in = new ByteArrayInputStream(data)
    val chBlock = readBlock(in)
    require(chBlock.contentType == 1, "expected compression header block")
    val ch = readCompressionHeader(chBlock)

    val out = Vector.newBuilder[Alignment]
    var total = 0
    while (in.available() > 0 && (expectedRecords < 0 || total < expectedRecords)) {
      val sh = readBlock(in)
      require(sh.contentType == 2, s"expected slice header, got ${sh.contentType}")
      val slice = parseSliceHeader(sh.data)
      val blocks = Map.newBuilder[Int, Array[Byte]]
      var core: Array[Byte] = Array.emptyByteArray
      var i = 0
      while (i < slice.nBlocks) {
        val b = readBlock(in)
        if (b.contentType == 4) blocks += b.contentId -> b.data
        else if (b.contentType == 5) core = b.data
        i += 1
      }
      out ++= decodeSlice(ch, slice, blocks.result(), core, refNames, rgIds,
        reference, harvested)
      total += slice.nRecords
    }
    if (expectedRecords >= 0 && total != expectedRecords)
      throw new IllegalStateException(
        s"CRAM container decode desync: header declares $expectedRecords " +
          s"records, slices decoded $total")
    out.result()
  }

  /** A read's quality from its per-feature (Q/q/B) qualities, which
    * writers use when QS is not stored per record: the `rl` bytes start
    * as 0xff, and a position no feature covers leaves its 0xff in place.
    * As for BAM's 0xff ([[SamIO.readQuality]]), such a quality reads back
    * missing. */
  private[sources] def featureQuality(q: Array[Byte]): Option[String] =
    if (q.exists(b => (b & 0xff) == 0xff)) None
    else SamIO.readQuality(q, 0, q.length)

  private def decodeSlice(
      ch: CompressionHeader, slice: SliceHeader,
      blocks: Map[Int, Array[Byte]], core: Array[Byte],
      refNames: Array[String], rgIds: Array[String],
      reference: Option[graft.core.ReferenceSource],
      harvested: Option[HarvestedRefs]): Seq[Alignment] = {
    val r = new SeriesReader(blocks, ch, core)

    // reference bases provider (0-based absolute position on the contig):
    // the slice's OWN embedded block first, then the supplied
    // ReferenceSource, then embedded spans harvested from OTHER containers
    // of the same file (multi-container embedded-reference spans)
    val embeddedRef: Option[Array[Byte]] =
      if (slice.embeddedRefId >= 0) blocks.get(slice.embeddedRefId) else None
    def refBases(ri: Int, start0: Long, len: Int): String = {
      if (len <= 0) return ""
      embeddedRef.foreach { eb =>
        val off = (start0 - (slice.alignmentStart - 1L)).toInt
        if (off >= 0 && off + len <= eb.length)
          return new String(eb, off, len, "UTF-8")
        // window outside this slice's own embedded span: fall through to
        // the external / harvested providers below
      }
      reference.foreach { src =>
        return src.extract(ReferenceRegion(refNames(ri), start0, start0 + len))
      }
      harvested.foreach { h =>
        h.bases(ri, start0, len).foreach(return _)
      }
      throw new UnsupportedOperationException(
        s"CRAM slice requires reference bases (RR=true) for " +
          s"[$start0,${start0 + len}) on ${refNames(ri)}, but no embedded " +
          "reference block covers the window - not this slice's own" +
          embeddedRef.fold("")(eb =>
            s" (${eb.length} bases from ${slice.alignmentStart})") +
          harvested.fold(", and the file embeds no other spans")(h =>
            s", and none of the ${h.nSpans} spans harvested from the " +
              "file's other containers") +
          " - pass a ReferenceSource to CramIO.read")
    }

    var prevAp = slice.alignmentStart // AP-delta accumulator (1-based)
    // per-record deferred mate links: index -> mate index (downstream)
    val mateLinks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val recs = new scala.collection.mutable.ArrayBuffer[Alignment](slice.nRecords)

    var idx = 0
    while (idx < slice.nRecords) {
      val bf = r.itf8("BF")
      val cf = r.itf8("CF")
      def cfBit(m: Int): Boolean = (cf & m) != 0
      val qualsStored = cfBit(0x1)
      val detached = cfBit(0x2)
      val mateDownstream = cfBit(0x4)
      val basesUnknown = cfBit(0x8)

      val ri =
        if (slice.refSeqId == -2) r.itf8("RI")
        else slice.refSeqId
      val rl = r.itf8("RL")
      val apRaw = r.itf8("AP")
      val ap = if (ch.apDelta) { prevAp += apRaw; prevAp } else apRaw
      val rg = r.itf8("RG")

      var name =
        if (ch.readNamesIncluded) new String(r.byteArray("RN"), "UTF-8")
        else ""

      // mate info: detached records carry it inline; attached records
      // point at the mate record downstream in the same slice
      var mf = 0
      var ns = -1
      var np = 0
      var ts = 0
      if (detached) {
        mf = r.itf8("MF")
        if (!ch.readNamesIncluded) name = new String(r.byteArray("RN"), "UTF-8")
        ns = r.itf8("NS")
        np = r.itf8("NP")
        ts = r.itf8("TS")
      } else if (mateDownstream) {
        val nf = r.itf8("NF")
        mateLinks += ((idx, idx + nf + 1))
      }
      if (name.isEmpty && !ch.readNamesIncluded)
        name = (slice.recordCounter + idx).toString

      val tl = r.itf8("TL")
      val attrs = Map.newBuilder[String, String]
      val sb = new java.lang.StringBuilder
      ch.tagLines(tl).foreach { t =>
        sb.setLength(0)
        SamIO.readTag(t.typ, r.tagValue(t), 0, sb)
        attrs += t.key -> sb.toString
      }
      val mapped = (bf & 0x4) == 0

      var seq = ""
      var cigar: String = null
      var mapq = 255
      var refLen = 0L
      var featQuals: Array[Byte] = null
      def qualAt(p1: Int, q: Int): Unit = {
        if (featQuals == null) featQuals = Array.fill[Byte](rl)(0xff.toByte)
        if (p1 >= 1 && p1 <= rl) featQuals(p1 - 1) = q.toByte
      }

      if (mapped) {
        val fn = r.itf8("FN")
        val sb = new StringBuilder(rl)
        val cig = new StringBuilder
        var lastOp = ' '
        var lastLen = 0L
        def emit(op: Char, len: Long): Unit =
          if (len > 0) {
            if (op == lastOp) lastLen += len
            else {
              if (lastOp != ' ') cig.append(lastLen).append(lastOp)
              lastOp = op; lastLen = len
            }
          }
        var readPos = 1 // next unconsumed 1-based read position
        var fp = 0 // absolute feature position (FP series is delta-coded)
        // fill [readPos, until) from the reference (match gap)
        def fillGap(until: Int): Unit = {
          val gap = until - readPos
          if (gap > 0) {
            if (!basesUnknown)
              sb.append(refBases(ri, ap - 1L + refLen, gap))
            emit('M', gap)
            refLen += gap
            readPos = until
          }
        }
        var k = 0
        while (k < fn) {
          val fc = r.byte("FC").toChar
          fp += r.itf8("FP")
          fc match {
            case 'b' =>
              fillGap(fp)
              val bs = r.byteArray("BB")
              sb.append(new String(bs, "UTF-8"))
              emit('M', bs.length); refLen += bs.length; readPos += bs.length
            case 'X' =>
              fillGap(fp)
              val code = r.itf8("BS")
              val base =
                if (basesUnknown) 'N'
                else substituteBase(ch.substMatrix,
                  refBases(ri, ap - 1L + refLen, 1).headOption.getOrElse('N'),
                  code)
              sb.append(base)
              emit('M', 1); refLen += 1; readPos += 1
            case 'B' =>
              fillGap(fp)
              val base = r.itf8("BA")
              qualAt(fp, r.itf8("QS"))
              sb.append(base.toChar)
              emit('M', 1); refLen += 1; readPos += 1
            case 'S' =>
              fillGap(fp)
              val bs = r.byteArray("SC")
              sb.append(new String(bs, "UTF-8"))
              emit('S', bs.length); readPos += bs.length
            case 'I' =>
              fillGap(fp)
              val bs = r.byteArray("IN")
              sb.append(new String(bs, "UTF-8"))
              emit('I', bs.length); readPos += bs.length
            case 'i' =>
              fillGap(fp)
              sb.append(r.itf8("BA").toChar)
              emit('I', 1); readPos += 1
            case 'D' =>
              fillGap(fp)
              val n = r.itf8("DL"); emit('D', n); refLen += n
            case 'N' =>
              fillGap(fp)
              val n = r.itf8("RS"); emit('N', n); refLen += n
            case 'H' => fillGap(fp); val n = r.itf8("HC"); emit('H', n)
            case 'P' => fillGap(fp); val n = r.itf8("PD"); emit('P', n)
            case 'Q' => qualAt(fp, r.itf8("QS")) // quality only; no base
            case 'q' =>
              val qs = r.byteArray("QQ")
              var j = 0
              while (j < qs.length) { qualAt(fp + j, qs(j) & 0xff); j += 1 }
            case other =>
              throw new UnsupportedOperationException(
                s"CRAM read feature '$other' not supported")
          }
          k += 1
        }
        fillGap(rl + 1) // trailing match gap to the end of the read
        if (lastOp != ' ') cig.append(lastLen).append(lastOp)
        mapq = r.itf8("MQ")
        cigar = cig.toString
        seq = if (basesUnknown) "" else sb.toString
      } else if (!basesUnknown) {
        seq = new String(r.bytes("BA", rl), "UTF-8")
      }

      val quals =
        if (qualsStored) SamIO.readQuality(r.bytes("QS", rl), 0, rl)
        else if (featQuals != null) featureQuality(featQuals)
        else None

      val attributes0 = attrs.result()
      // restore an '='/'X'-preserving CIGAR stashed by [[preserveEqX]]
      // and strip the local-use tag
      val attributes = attributes0 - "zC"
      attributes0.get("zC").foreach(v => cigar = v.drop(2))
      def refName(i: Int): String = if (i >= 0 && i < refNames.length) refNames(i) else null
      // detached mate bits (MF) count as the flag's own mate bits
      val flag = bf | (if ((mf & 1) != 0) SamIO.MateReverse.bit else 0) |
        (if ((mf & 2) != 0) SamIO.MateUnmapped.bit else 0)
      recs += SamIO.alignment(name = name, flag = flag, referenceName = refName(ri),
        pos = ap - 1L, refLen = refLen, mapq = mapq, cigar = cigar,
        mateReferenceName = refName(ns), matePos = np - 1L, tlen = ts, sequence = seq,
        quality = quals, attributes = attributes,
        readGroup = if (rg >= 0 && rg < rgIds.length) rgIds(rg) else null)
      idx += 1
    }

    // resolve attached (non-detached) mate pairs within the slice
    mateLinks.foreach { case (i, j) =>
      if (j >= 0 && j < recs.length) {
        val a = recs(i)
        val b = recs(j)
        // attached mates share the earlier record's name
        val sharedName = a.readName.orElse(b.readName)
        def tlen(x: Alignment, y: Alignment): (Option[Long], Option[Long]) =
          (x.start, x.end, y.start, y.end) match {
            case (Some(xs), Some(xe), Some(ys), Some(ye))
                if x.referenceName == y.referenceName =>
              val span = math.max(xe, ye) - math.min(xs, ys)
              if (xs <= ys) (Some(span), Some(-span)) else (Some(-span), Some(span))
            case _ => (None, None)
          }
        val (ta, tb) = tlen(a, b)
        recs(i) = a.copy(
          readName = sharedName,
          mateReferenceName = b.referenceName,
          mateAlignmentStart = b.start,
          mateMapped = b.readMapped,
          mateNegativeStrand = b.readNegativeStrand,
          insertSize = ta)
        recs(j) = b.copy(
          readName = sharedName,
          mateReferenceName = a.referenceName,
          mateAlignmentStart = a.start,
          mateMapped = a.readMapped,
          mateNegativeStrand = a.readNegativeStrand,
          insertSize = tb)
      }
    }
    recs.toSeq
  }

  /** Region-pruned read of a `.crai`-indexed CRAM: only containers whose
    * index spans overlap the query regions are decoded; decoded records
    * are filtered against the query set. */
  def readIndexed(
      spark: SparkSession, path: String,
      regions: Seq[ReferenceRegion]): GenomicDataset[Alignment] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val whole = read(spark, path) // metadata + container scan (headers only)
    val refIdx = whole.meta.sequences.records.map(_.name)
      .zipWithIndex.toMap
    val wanted: Set[Long] = {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new GZIPInputStream(fs.open(new Path(path + ".crai"))), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty)
        .flatMap { l =>
          val f = l.split("\t")
          val (ri, start1, span, off) =
            (f(0).toInt, f(1).toLong, f(2).toLong, f(3).toLong)
          val hit = regions.exists(rr =>
            refIdx.get(rr.referenceName).contains(ri) &&
              (start1 - 1) < rr.end && rr.start < (start1 - 1 + span))
          if (hit) Some(off) else None
        }.toSet
      finally in.close()
    }
    val regionsB = spark.sparkContext.broadcast(regions)
    val pruned = prunedRead(spark, path, wanted)
    pruned.transform(_.filter { r =>
      (r.referenceName, r.start, r.end) match {
        case (Some(rn), Some(s), Some(e)) =>
          regionsB.value.exists(rr =>
            rr.referenceName == rn && s < rr.end && rr.start < e)
        case _ => false
      }
    })
  }

  /** Test seam: body bytes + declared record count of the first data
    * container (driver-side scan, same walk as readInternal). */
  private[sources] def firstContainerBody(
      spark: SparkSession, path: String): (Array[Byte], Int) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      skipFully(in, 26) // magic + file id
      val hdrContainer = readContainerHeader(in).get
      skipFully(in, hdrContainer.length)
      var res: Option[(Array[Byte], Int)] = None
      while (res.isEmpty) {
        val hc = readContainerHeader(in).getOrElse(
          throw new EOFException("no data container"))
        if (hc.nRecords > 0) {
          val buf = new Array[Byte](hc.length)
          in.readFully(buf)
          res = Some((buf, hc.nRecords))
        } else skipFully(in, hc.length)
      }
      res.get
    } finally in.close()
  }

  private def prunedRead(spark: SparkSession, path: String,
      keepOffsets: Set[Long]): GenomicDataset[Alignment] =
    readInternal(spark, path, Some(keepOffsets), None)

  def read(spark: SparkSession, path: String): GenomicDataset[Alignment] =
    readInternal(spark, path, None, None)

  /** Read with a reference for reference-compressed (RR=true) CRAMs whose
    * slices carry no embedded reference block. */
  def read(spark: SparkSession, path: String,
      reference: graft.core.ReferenceSource): GenomicDataset[Alignment] =
    readInternal(spark, path, None, Some(reference))

  private def readInternal(spark: SparkSession, path: String,
      keepOffsets: Option[Set[Long]],
      reference: Option[graft.core.ReferenceSource]): GenomicDataset[Alignment] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // driver pass: file definition, header container, container offsets
    val in = fs.open(p)
    val magic = new Array[Byte](6)
    in.readFully(magic)
    require(magic.sameElements(Magic) || magic.sameElements(Magic31),
      "not a CRAM 3.0/3.1 file")
    skipFully(in, 20)

    val hdrContainer = readContainerHeader(in).getOrElse(
      throw new EOFException("missing CRAM header container"))
    val hdrBodyStart = in.getPos
    val headerBlock = readBlock(in)
    val hd = headerBlock.data
    val hLen = (hd(0) & 0xff) | ((hd(1) & 0xff) << 8) |
      ((hd(2) & 0xff) << 16) | ((hd(3) & 0xff) << 24)
    val headerText = new String(hd, 4, hLen, "UTF-8")
    val meta = SamIO.parseHeader(
      headerText.split("\n").filter(_.startsWith("@")).toSeq)
    val refNames = meta.sequences.records.map(_.name).toArray
    val rgIds = meta.readGroups.readGroups.map(_.id).toArray

    // scan container offsets (headers only); honor the header container's
    // declared length (other writers may pad it with extra blocks).
    // With no external reference, the same pass ALSO indexes every
    // slice's embedded-reference block (offset only, never the bases) so
    // reference-compressed slices WITHOUT their own embedded block can
    // decode against a covering span embedded elsewhere in the file —
    // multi-container embedded-reference spans. Indexing walks block
    // HEADERS (seek past every payload), so the scan stays ~headers-only;
    // spans index over ALL containers even under .crai pruning (the
    // serving container may be pruned away).
    val fileLen = fs.getFileStatus(p).getLen
    val offsets = Seq.newBuilder[(Long, Int, Int)]
    val spans = Seq.newBuilder[EmbeddedSpan]
    var pos = hdrBodyStart + hdrContainer.length
    var done = false
    while (!done && pos < fileLen) {
      in.seek(pos)
      val headerStart = pos
      readContainerHeader(in) match {
        case Some(hc) if hc.nRecords > 0 =>
          val bodyStart = in.getPos
          if (keepOffsets.forall(_.contains(headerStart)))
            offsets += ((bodyStart, hc.length, hc.nRecords))
          if (reference.isEmpty)
            spans ++= indexEmbeddedRefs(in, bodyStart, hc.length)
          pos = bodyStart + hc.length
        case Some(hc) =>
          pos = in.getPos + hc.length // header/EOF container: skip
        case None => done = true
      }
    }
    in.close()

    val containers = offsets.result()
    val refNamesB = spark.sparkContext.broadcast(refNames)
    val rgIdsB = spark.sparkContext.broadcast(rgIds)
    val confB = spark.sparkContext.broadcast(HadoopConf(spark))
    val referenceB = spark.sparkContext.broadcast(reference)
    val harvestedB = spark.sparkContext.broadcast {
      val sp = spans.result()
      if (sp.isEmpty) None
      else Some(new HarvestedRefs(path, HadoopConf(spark), sp.toArray))
    }
    val file = path
    val rdd = spark.sparkContext
      .parallelize(containers, math.max(1, containers.length))
      .flatMap { case (off, len, nRecords) =>
        val fp = new Path(file)
        val tfs = fp.getFileSystem(confB.value.value)
        val tin = tfs.open(fp)
        try {
          tin.seek(off)
          val buf = new Array[Byte](len)
          tin.readFully(buf)
          decodeContainer(buf, refNamesB.value, rgIdsB.value, nRecords,
            referenceB.value, harvestedB.value)
        } finally tin.close()
      }
    GenomicDataset(spark.createDataset(rdd), meta)
  }
}
