package graft.sources

import java.io.{ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import graft.core.GenomicDataset
import graft.model._

/** BAM binary IO, from the public SAM/BAM specification §4 (the reference
  * uses hadoop-bam's AnySAMInputFormat + htsjdk, ADAMContext.scala:
  * 2041-2111; neither ships in this stack, so the record codec is
  * implemented from the spec over the [[Bgzf]] container).
  *
  * Parallelism model: BGZF-block-level SPLITS within each file (the
  * hadoop-bam approach, re-derived from the spec): a split [start, end)
  * owns every record whose first byte lies in a compressed block starting
  * inside the range. Boundary discovery scans for the next member header
  * (any offset is within 64 KiB of one); the first record offset inside a
  * mid-file split is found by chain-validating candidate record starts
  * (plausible field ranges + NUL-terminated name + 2 following records).
  * A record spanning past `end` drains into the next split's blocks, whose
  * owner skips it by the same ownership rule — so a 100 GB BAM fans out
  * across executors instead of pinning one task per file. Header parsing
  * is driver-side, record decoding runs in executors.
  */
object BamIO {
  import SamIO.le32

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  private val SeqChars = "=ACMGRSVTWYHKDBN"
  private val CigarOps = "MIDNSHP=X"
  private val BamMagic: Array[Byte] = Array(66, 65, 77, 1).map(_.toByte)

  // ------------------------------- read -----------------------------------

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new EOFException(s"wanted $n bytes, got $off")
      off += r
    }
    b
  }

  private def i32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
      ((b(o + 3) & 0xff) << 24)

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  /** Parse the BAM header section; returns (metadata, refNames) and leaves
    * the stream positioned at the first alignment record. */
  def readHeader(in: InputStream): (GenomicMetadata, Array[String]) = {
    val magic = readFully(in, 4)
    require(magic.sameElements(BamMagic),
      "not a BAM stream")
    val lText = i32(readFully(in, 4), 0)
    val text = new String(readFully(in, lText), "UTF-8")
    val nRef = i32(readFully(in, 4), 0)
    val refs = Array.fill(nRef) {
      val lName = i32(readFully(in, 4), 0)
      val name = new String(readFully(in, lName), "UTF-8").takeWhile(_ != 0.toChar)
      val lRef = i32(readFully(in, 4), 0)
      (name, lRef.toLong)
    }
    val meta0 = SamIO.parseHeader(text.split("\n").filter(_.startsWith("@")).toSeq)
    // reconcile: BAM's binary ref list is authoritative if @SQ absent
    val meta =
      if (meta0.sequences.isEmpty)
        meta0.copy(sequences = SequenceDictionary(
          refs.zipWithIndex.map { case ((n, l), i) =>
            SequenceRecord(n, l, index = Some(i)) }.toIndexedSeq))
      else meta0
    (meta, refs.map(_._1))
  }

  private def readHeader(fs: org.apache.hadoop.fs.FileSystem,
      file: Path): (GenomicMetadata, Array[String]) = {
    val in = Bgzf.inputStream(fs.open(file))
    try readHeader(in) finally in.close()
  }

  /** Decode one alignment record given its byte block. */
  def decodeRecord(b: Array[Byte], refNames: Array[String]): Alignment = {
    val lReadName = b(8) & 0xff
    val nCigar = u16(b, 12)
    val lSeq = i32(b, 16)
    var o = 32
    val readName = new String(b, o, lReadName - 1, UTF_8); o += lReadName
    val sb = new java.lang.StringBuilder
    var refLen = 0L
    var k = 0
    while (k < nCigar) {
      val v = i32(b, o); o += 4
      val opLen = v >>> 4
      val op = CigarOps.charAt(v & 0xf)
      sb.append(opLen).append(op)
      if (op == 'M' || op == 'D' || op == 'N' || op == '=' || op == 'X')
        refLen += opLen
      k += 1
    }
    val cigar = sb.toString
    val seq = new Array[Char](lSeq)
    var i = 0
    while (i < lSeq) {
      val byte = b(o + i / 2) & 0xff
      seq(i) = SeqChars.charAt(if (i % 2 == 0) byte >> 4 else byte & 0xf)
      i += 1
    }
    o += (lSeq + 1) / 2
    val quals = SamIO.readQuality(b, o, lSeq); o += lSeq

    val attrs = Map.newBuilder[String, String]
    while (o < b.length) {
      val tag = new String(b, o, 2, ISO_8859_1)
      sb.setLength(0)
      o = SamIO.readTag(b(o + 2).toChar, b, o + 3, sb)
      attrs += (tag -> sb.toString)
    }
    def refName(id: Int): String = if (id >= 0) refNames(id) else null
    SamIO.alignment(name = readName, flag = u16(b, 14), referenceName = refName(i32(b, 0)),
      pos = i32(b, 4), refLen = refLen, mapq = b(9) & 0xff, cigar = cigar,
      mateReferenceName = refName(i32(b, 20)), matePos = i32(b, 24), tlen = i32(b, 28),
      sequence = new String(seq), quality = quals, attributes = attrs.result())
  }

  /** Records read from `in` while `more` holds before each one, up to the
    * end of the stream; closes `in` after the last. */
  private def records(in: InputStream, refNames: Array[String],
      more: => Boolean): Iterator[Alignment] =
    new Iterator[Alignment] {
      private var nextRec: Array[Byte] = advance()
      private def advance(): Array[Byte] = {
        if (!more) { in.close(); return null }
        val szb = new Array[Byte](4)
        var off = 0
        while (off < 4) {
          val r = in.read(szb, off, 4 - off)
          if (r < 0) { if (off == 0) { in.close(); return null }
            else throw new EOFException("truncated BAM record header") }
          off += r
        }
        readFully(in, i32(szb, 0))
      }
      def hasNext: Boolean = nextRec != null
      def next(): Alignment = {
        val r = decodeRecord(nextRec, refNames); nextRec = advance(); r
      }
    }

  /** Is offset `o` in `b` a plausible BAM record start? Field-range checks
    * plus the NUL terminator of read_name — combined with chain validation
    * a false positive needs ~10 independent coincidences. */
  private def plausibleRecord(b: Array[Byte], o: Int, nRef: Int): Int = {
    if (o + 36 > b.length) return -2 // out of window
    val bs = i32(b, o)
    if (bs < 32 || bs > (1 << 22)) return -1
    val refId = i32(b, o + 4)
    if (refId < -1 || refId >= nRef) return -1
    if (i32(b, o + 8) < -1) return -1                  // pos
    val lrn = b(o + 12) & 0xff
    if (lrn < 1) return -1
    val nCigar = u16(b, o + 16)
    val lSeq = i32(b, o + 20)
    if (lSeq < 0 || lSeq > (1 << 20)) return -1
    val nextRef = i32(b, o + 24)
    if (nextRef < -1 || nextRef >= nRef) return -1
    if (i32(b, o + 28) < -1) return -1                 // next pos
    val required = 32 + lrn + 4 * nCigar + (lSeq + 1) / 2 + lSeq
    if (required > bs) return -1
    // name NUL terminator (may fall past the window -> treat as unknown)
    val nameEnd = o + 36 + lrn - 1
    if (nameEnd < b.length && b(nameEnd) != 0) return -1
    // cigar op codes are 0..8
    var k = 0
    val cigarBase = o + 36 + lrn
    while (k < math.min(nCigar, 8)) {
      val co = cigarBase + 4 * k
      if (co + 4 <= b.length && (i32(b, co) & 0xf) > 8) return -1
      k += 1
    }
    4 + bs // offset delta to the next record
  }

  /** First offset in `b` (scanning [0, maxScan)) that starts a chain of
    * `depth` plausible records; -1 when none does. */
  private[sources] def guessRecordStart(
      b: Array[Byte], nRef: Int, maxScan: Int, depth: Int = 3): Int = {
    var o = 0
    while (o < maxScan) {
      var cur = o
      var ok = 0
      var verdict = 0
      while (ok < depth && verdict >= 0) {
        verdict = plausibleRecord(b, cur, nRef)
        if (verdict > 0) { ok += 1; cur += verdict }
        else if (verdict == -2 && ok > 0) ok = depth // chain left the window after >=1 hit
      }
      if (ok >= depth) return o
      o += 1
    }
    -1
  }

  /** Records of one split of one BAM file (ownership rule in the class
    * scaladoc). Split 0 parses the header in place; later splits locate
    * the next block boundary and guess the first record offset. */
  private[sources] def splitRecords(
      fs: org.apache.hadoop.fs.FileSystem, file: String,
      start: Long, end: Long, refNames: Array[String]): Iterator[Alignment] = {
    val p = new Path(file)
    if (start == 0) {
      val in = new Bgzf.BgzfBlockInput(fs.open(p), 0L)
      val (_, names) = readHeader(in)
      records(in, names, in.nextByteBlockStart < end)
    } else {
      val fileSize = fs.getFileStatus(p).getLen
      val raw = fs.open(p)
      raw.seek(start)
      val b0 = Bgzf.findNextBlockStart(raw, start, fileSize)
      if (b0 < 0 || b0 >= end) { raw.close(); Iterator.empty }
      else {
        raw.seek(b0)
        val in = new Bgzf.BgzfBlockInput(raw, b0)
        // The next record start may lie BEYOND the first owned block (a
        // long-read record can span many blocks), so scan the whole
        // decompressed window and grow it until a start appears or the
        // file is exhausted. Ownership stays exact: the bounded iterator
        // stops before a record whose first byte is in a block >= end, so
        // a start found past the range is simply not emitted here (the
        // owning split finds it through the same scan).
        var winSize = 1 << 20
        var lastLen = -1
        var offset = -1
        var exhausted = false
        while (offset < 0 && !exhausted && winSize <= (64 << 20)) {
          val win = in.peek(winSize)
          offset = guessRecordStart(win, refNames.length, win.length)
          if (offset < 0) {
            if (win.length == lastLen) exhausted = true
            lastLen = win.length
            winSize *= 2
          }
        }
        if (offset < 0) { in.close(); Iterator.empty }
        else {
          in.skipFully(offset.toLong)
          records(in, refNames, in.nextByteBlockStart < end)
        }
      }
    }
  }

  /** Load BAM file(s) with BGZF-block-level splits: header from the first
    * file driver-side; record decoding fans out over (file, range) splits
    * in executors. `path` may be a file or a directory of part-BAMs. */
  def read(spark: SparkSession, path: String,
      splitSize: Long = 32L << 20): GenomicDataset[Alignment] = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files: Seq[(String, Long)] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile)
          .filterNot(f => f.getPath.getName.startsWith("_") ||
            f.getPath.getName.startsWith("."))
          .map(f => (f.getPath.toString, f.getLen))
          .sortBy(_._1).toIndexedSeq
      else Seq((path, fs.getFileStatus(p).getLen))

    val (meta, refNames) = readHeader(fs, new Path(files.head._1))

    val splits: Seq[(String, Long, Long)] = files.flatMap { case (f, len) =>
      if (len <= splitSize + splitSize / 2) Seq((f, 0L, len))
      else {
        val n = math.max(1, (len / splitSize).toInt)
        val step = len / n
        (0 until n).map(i =>
          (f, i * step, if (i == n - 1) len else (i + 1) * step))
      }
    }

    val sc = spark.sparkContext
    val refNamesB = sc.broadcast(refNames)
    val confB = sc.broadcast(HadoopConf(spark))
    val rdd = sc.parallelize(splits, math.max(1, splits.length))
      .flatMap { case (f, s, e) =>
        val fp = new Path(f)
        val tfs = fp.getFileSystem(confB.value.value)
        splitRecords(tfs, f, s, e, refNamesB.value)
      }
    GenomicDataset(spark.createDataset(rdd), meta)
  }

  /** Region-pruned read of an indexed single-file BAM (`loadIndexedBam`,
    * ADAMContext.scala:2125-2243): the `.bai` sidecar maps the query
    * regions to compressed chunks; only those byte ranges are opened.
    * Chunks from all regions are merged to a disjoint list (each record is
    * decoded exactly once) and fan out as one task per chunk; decoded
    * records are filtered against the query set. */
  def readIndexed(
      spark: SparkSession, path: String,
      regions: Seq[graft.model.ReferenceRegion]): GenomicDataset[Alignment] = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val (meta, refNames) = readHeader(fs, p)
    val index = {
      val in = fs.open(new Path(path + ".bai"))
      try Bai.read(in) finally in.close()
    }
    val refIdx = refNames.zipWithIndex.toMap
    val allChunks = regions
      .flatMap { rr =>
        refIdx.get(rr.referenceName).toSeq.flatMap(ri =>
          Bai.chunksForRegion(index, ri, rr.start, rr.end))
      }
      .sortBy(_.beg)
    // merge to disjoint ranges so no record decodes twice
    val merged = allChunks.foldLeft(List.empty[Bai.Chunk]) { (acc, c) =>
      acc match {
        case h :: t if (c.beg >> 16) <= (h.end >> 16) =>
          h.copy(end = math.max(h.end, c.end)) :: t
        case _ => c :: acc
      }
    }.reverse

    val sc = spark.sparkContext
    val refNamesB = sc.broadcast(refNames)
    val regionsB = sc.broadcast(regions)
    val confB = sc.broadcast(HadoopConf(spark))
    val file = path
    val rdd = sc.parallelize(merged, math.max(1, merged.length))
      .flatMap { chunk =>
        val fp = new Path(file)
        val tfs = fp.getFileSystem(confB.value.value)
        val raw = tfs.open(fp)
        val coffset = chunk.beg >> 16
        raw.seek(coffset)
        val in = new Bgzf.BgzfBlockInput(raw, coffset)
        in.skipFully(chunk.beg & 0xffffL)
        val rs = regionsB.value
        records(in, refNamesB.value, in.virtualPos < chunk.end).filter { rec =>
          (rec.referenceName, rec.start, rec.end) match {
            case (Some(rn), Some(s), Some(e)) =>
              rs.exists(rr => rr.referenceName == rn && s < rr.end && rr.start < e)
            case _ => false
          }
        }
      }
    GenomicDataset(spark.createDataset(rdd), meta)
  }

  // ------------------------------- write ----------------------------------

  /** One record, length prefix first (SAM spec §4.2); `buf` is scratch
    * space reused across records. */
  private def writeRecord(out: OutputStream, r: Alignment,
      refIndex: Map[String, Int], buf: ByteArrayOutputStream): Unit = {
    buf.reset()
    def w16(v: Int): Unit = { buf.write(v); buf.write(v >> 8) }
    val name = r.readName.getOrElse("*").getBytes(UTF_8)
    // l_read_name is one byte and counts the NUL
    if (name.length > 254) throw new IllegalArgumentException(
      s"read name ${r.readName.get} is ${name.length} UTF-8 bytes; BAM stores at most 254")
    val cigar = Cigar.parse(r.cigar.getOrElse(""))
    val seq = r.sequence.getOrElse("")
    le32(buf, r.referenceName.flatMap(refIndex.get).getOrElse(-1))
    le32(buf, r.start.map(_.toInt).getOrElse(-1))
    buf.write(name.length + 1)
    buf.write(r.mappingQuality.getOrElse(255))
    // SAM spec §4.2: reg2bin(pos, end), a read without a position in bin 4680
    w16(r.start.fold(4680)(s => Bai.reg2bin(s, math.max(r.end.getOrElse(s + 1), s + 1))))
    w16(cigar.length)
    w16(SamIO.flagOf(r))
    le32(buf, seq.length)
    le32(buf, r.mateReferenceName.flatMap(refIndex.get).getOrElse(-1))
    le32(buf, r.mateAlignmentStart.map(_.toInt).getOrElse(-1))
    le32(buf, r.insertSize.map(_.toInt).getOrElse(0))
    buf.write(name); buf.write(0)
    cigar.foreach(e => le32(buf, (e.length << 4) | CigarOps.indexOf(e.op)))
    var i = 0
    while (i < seq.length) {
      val hi = SeqChars.indexOf(Character.toUpperCase(seq.charAt(i))) max 0
      val lo = if (i + 1 < seq.length)
        SeqChars.indexOf(Character.toUpperCase(seq.charAt(i + 1))) max 0 else 0
      buf.write((hi << 4) | lo)
      i += 2
    }
    SamIO.writeQuality(r, seq.length, buf)
    r.attributes.toSeq.sortBy(_._1).foreach { case (tag, tv) => SamIO.writeTag(tag, tv, buf) }
    le32(out, buf.size)
    buf.writeTo(out)
  }

  /** The BAM header: magic, SAM header text and reference list. */
  private def headerBytes(meta: GenomicMetadata, sorted: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(BamMagic)
    val text = SamIO.headerLines(meta, sorted).mkString("", "\n", "\n").getBytes(UTF_8)
    le32(out, text.length); out.write(text)
    le32(out, meta.sequences.records.length)
    meta.sequences.records.foreach { r =>
      val name = r.name.getBytes(UTF_8)
      le32(out, name.length + 1); out.write(name); out.write(0)
      le32(out, r.length.toInt)
    }
    out.toByteArray
  }

  /** Write a single BAM file or distributed part-BAMs under a directory.
    * Single-file output is DISTRIBUTED (executor-written BGZF fragments,
    * binary-concatenated with the header member and EOF marker) unless
    * `writeIndex` is set, which needs globally-ordered virtual offsets and
    * therefore streams through the driver while building `<path>.bai`
    * (meaningful for coordinate-sorted records). Every branch reads
    * `gd.records`, so a dataset already written by another sink is not
    * planned or shuffled again. */
  def write(gd: GenomicDataset[Alignment], path: String,
      asSingleFile: Boolean = true, writeIndex: Boolean = false): Unit = {
    val meta = gd.meta
    val refIndex = meta.sequences.records.zipWithIndex
      .map { case (r, i) => r.name -> i }.toMap
    val header = headerBytes(meta, gd.sorted)
    val spark = gd.spark
    if (asSingleFile && writeIndex) {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = new Bgzf.BgzfOutputStream(fs.create(p, true))
      val bai = new Bai.Builder(meta.sequences.records.length,
        meta.sequences.records.map(_.length))
      try {
        out.write(header)
        val buf = new ByteArrayOutputStream()
        gd.records.toLocalIterator.foreach { r =>
          val vStart = out.virtualOffset
          writeRecord(out, r, refIndex, buf)
          (r.referenceName.flatMap(refIndex.get), r.start) match {
            case (Some(ri), Some(s)) =>
              bai.add(ri, s, r.end.getOrElse(s + 1), vStart, out.virtualOffset)
            case _ =>
          }
        }
      } finally out.close()
      val baiOut = fs.create(new Path(path + ".bai"), true)
      try Bai.write(bai.result(), baiOut) finally baiOut.close()
    } else {
      // executors write BGZF parts: whole part-BAMs, or records-only
      // fragments that the merge concatenates after a header member and
      // before the EOF marker (BGZF is valid under concatenation)
      val dirName = if (asSingleFile) path + "._parts" else path
      val dir = new Path(dirName)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(dir)
      val refIndexB = spark.sparkContext.broadcast(refIndex)
      val confB = spark.sparkContext.broadcast(HadoopConf(spark))
      gd.records.mapPartitionsWithIndex { (pid, it) =>
        if (asSingleFile && it.isEmpty) Iterator.empty
        else {
          val part = new Path(dir, if (asSingleFile) f"part-$pid%05d" else f"part-$pid%05d.bam")
          val out = new Bgzf.BgzfOutputStream(
            part.getFileSystem(confB.value.value).create(part, true),
            writeEofOnClose = !asSingleFile)
          try {
            if (!asSingleFile) out.write(header)
            val buf = new ByteArrayOutputStream()
            it.foreach(r => writeRecord(out, r, refIndexB.value, buf))
          } finally out.close()
          Iterator.single(1)
        }
      }.count()
      if (asSingleFile) {
        val member = new ByteArrayOutputStream()
        val hout = new Bgzf.BgzfOutputStream(member, writeEofOnClose = false)
        hout.write(header)
        hout.close()
        FileMerger.mergeBinary(spark, dirName, path, member.toByteArray, Bgzf.EofMarker)
      }
    }
  }
}
