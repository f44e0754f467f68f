package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream, OutputStream}
import java.util.zip.{CRC32, Deflater}

/** Seeded synthetic input for the align-pipeline workload: single-end
  * 100-bp reads with MD tags and a planted, known set of duplicates,
  * written as a BAM file by a writer of the benchmark's own (the SAM spec's
  * BGZF and BAM record layout), so the input does not depend on the codec
  * under test.
  *
  * Layout: the genome is cut into 200-bp slots, one original read per slot
  * with its start in the slot's first 100 bp. Every 5' position (start on
  * the forward strand, end on the reverse) therefore lies in its own slot,
  * and the only reads that share a duplicate key are the planted copies:
  * 1 to 3 extra reads at the same start, strand and CIGAR. Duplicate marking
  * must flag exactly `planted` reads. Reads are emitted in shuffled order,
  * dealt round-robin into `Parts` part files of one directory (the layout
  * Spark jobs write, and the unit `BamIO.read` splits a directory by). */
object BamGen {
  val ReadLen = 100
  val Contigs = 4
  val ReadGroup = "rg1"
  val Library = "lib1"
  val Parts = 4

  final case class Summary(reads: Long, planted: Long)

  def write(dir: String, seed: Long, targetReads: Int): Summary = {
    val rnd = new java.util.Random(seed)
    // plant copies on ~8 % of slots; slots are sized so originals + copies
    // land near the target
    val slots = math.max(Contigs, (targetReads / 1.16).toInt)
    val perContig = (slots + Contigs - 1) / Contigs
    val contigLen = perContig * 200 + 1000
    val copies = Array.tabulate(slots)(_ =>
      if (rnd.nextDouble() < 0.08) 1 + rnd.nextInt(3) else 0)
    val planted = copies.iterator.map(_.toLong).sum
    // (slot, copy) pairs in a seeded shuffled emission order
    val order = new Array[Long]((slots + planted).toInt)
    var n = 0
    var s = 0
    while (s < slots) {
      var c = 0
      while (c <= copies(s)) { order(n) = (s.toLong << 8) | c; n += 1; c += 1 }
      s += 1
    }
    var i = order.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    // per-slot layout is a pure function of (seed, slot), so the copies of
    // a slot agree on start, strand, sequence and MD with the original
    new java.io.File(dir).mkdirs()
    val outs = Array.tabulate(Parts)(i => new BgzfWriter(new BufferedOutputStream(
      new FileOutputStream(f"$dir/part-$i%05d.bam"), 1 << 16)))
    try {
      val text = new StringBuilder("@HD\tVN:1.6\tSO:unsorted\n")
      (0 until Contigs).foreach(c => text ++= s"@SQ\tSN:chr${c + 1}\tLN:$contigLen\n")
      text ++= s"@RG\tID:$ReadGroup\tSM:sample1\tLB:$Library\tPL:ILLUMINA\n"
      val hb = new ByteArrayOutputStream()
      hb.write(Array[Byte]('B', 'A', 'M', 1))
      val tb = text.toString.getBytes("US-ASCII")
      le32(hb, tb.length); hb.write(tb)
      le32(hb, Contigs)
      (0 until Contigs).foreach { c =>
        val nb = s"chr${c + 1}".getBytes("US-ASCII")
        le32(hb, nb.length + 1); hb.write(nb); hb.write(0); le32(hb, contigLen)
      }
      outs.foreach(_.write(hb.toByteArray))
      val rec = new ByteArrayOutputStream(512)
      order.indices.foreach { k =>
        rec.reset()
        encode(rec, seed, (order(k) >>> 8).toInt, (order(k) & 0xff).toInt, perContig)
        outs(k % Parts).write(rec.toByteArray)
      }
    } finally outs.foreach(_.close())
    Summary(order.length.toLong, planted)
  }

  private def le32(o: OutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >>> 8) & 0xff)
    o.write((v >>> 16) & 0xff); o.write((v >>> 24) & 0xff)
  }
  private def le16(o: OutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >>> 8) & 0xff)
  }

  private val Bases = "ACGT"

  /** One BAM record (SAM spec §4.2) for copy `copy` of slot `slot`. */
  private def encode(o: ByteArrayOutputStream, seed: Long, slot: Int,
      copy: Int, perContig: Int): Unit = {
    val r = new java.util.Random(seed * 1000003L + slot)
    val ref = slot / perContig
    val start = (slot % perContig) * 200 + r.nextInt(100)
    val reverse = r.nextBoolean()
    val seq = Array.fill(ReadLen)(Bases.charAt(r.nextInt(4)))
    // 0-2 mismatches against the (implicit) reference, described by MD
    val mm = (0 until r.nextInt(3)).map(_ => r.nextInt(ReadLen)).distinct.sorted
    val md = new StringBuilder
    var last = 0
    mm.foreach { p =>
      md.append(p - last)
      md.append(Bases.charAt((Bases.indexOf(seq(p)) + 1 + r.nextInt(3)) % 4))
      last = p + 1
    }
    md.append(ReadLen - last)
    // copies get their own qualities, so markDuplicates ranks them by score
    val qr = new java.util.Random(seed * 7919L + slot * 31L + copy)
    val qual = Array.fill(ReadLen)((10 + qr.nextInt(31)).toByte)
    val name = s"r${slot}_$copy".getBytes("US-ASCII")
    val flag = if (reverse) 16 else 0
    val tags = new ByteArrayOutputStream()
    tags.write(Array[Byte]('M', 'D', 'Z')); tags.write(md.toString.getBytes("US-ASCII")); tags.write(0)
    tags.write(Array[Byte]('R', 'G', 'Z')); tags.write(ReadGroup.getBytes("US-ASCII")); tags.write(0)
    val body = new ByteArrayOutputStream()
    le32(body, ref)
    le32(body, start)
    body.write(name.length + 1)
    body.write(60) // mapping quality
    le16(body, reg2bin(start, start + ReadLen))
    le16(body, 1) // one CIGAR op
    le16(body, flag)
    le32(body, ReadLen)
    le32(body, -1); le32(body, -1); le32(body, 0) // no mate
    body.write(name); body.write(0)
    le32(body, (ReadLen << 4) | 0) // 100M
    var k = 0
    while (k < ReadLen) {
      body.write((code4(seq(k)) << 4) | code4(seq(k + 1)))
      k += 2
    }
    body.write(qual)
    tags.writeTo(body)
    le32(o, body.size())
    body.writeTo(o)
  }

  private def code4(c: Char): Int = c match {
    case 'A' => 1
    case 'C' => 2
    case 'G' => 4
    case 'T' => 8
  }

  /** UCSC binning scheme (SAM spec §5.3). */
  private def reg2bin(beg: Int, endExcl: Int): Int = {
    val end = endExcl - 1
    if (beg >> 14 == end >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == end >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == end >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == end >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == end >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  /** BGZF members of at most 64 KiB input each, then the EOF marker. */
  private final class BgzfWriter(out: OutputStream) extends OutputStream {
    private val buf = new Array[Byte](0xff00)
    private var len = 0
    private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    private val cbuf = new Array[Byte](0x10000 + 1024)

    override def write(b: Int): Unit = {
      if (len == buf.length) flushBlock()
      buf(len) = b.toByte; len += 1
    }
    override def write(b: Array[Byte], off: Int, n: Int): Unit = {
      var o = off
      while (o < off + n) {
        if (len == buf.length) flushBlock()
        val k = math.min(n - (o - off), buf.length - len)
        System.arraycopy(b, o, buf, len, k)
        len += k; o += k
      }
    }
    private def flushBlock(): Unit = if (len > 0) {
      deflater.reset()
      deflater.setInput(buf, 0, len)
      deflater.finish()
      val clen = deflater.deflate(cbuf)
      val crc = new CRC32(); crc.update(buf, 0, len)
      val hdr = Array[Int](0x1f, 0x8b, 8, 4, 0, 0, 0, 0, 0, 0xff, 6, 0, 'B', 'C', 2, 0)
      hdr.foreach(out.write)
      le16(out, 18 + clen + 8 - 1) // BSIZE: total member size - 1
      out.write(cbuf, 0, clen)
      le32(out, crc.getValue.toInt)
      le32(out, len)
      len = 0
    }
    override def close(): Unit = {
      flushBlock()
      val eof = Array(0x1f, 0x8b, 8, 4, 0, 0, 0, 0, 0, 0xff, 6, 0, 0x42, 0x43, 2, 0,
        0x1b, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      eof.foreach(out.write)
      deflater.end()
      out.close()
    }
  }
}
