package graft.sources

import java.io.{DataInputStream, EOFException, InputStream}
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

  /** Decode one alignment record given its byte block. */
  def decodeRecord(b: Array[Byte], refNames: Array[String]): Alignment = {
    val refId = i32(b, 0)
    val pos = i32(b, 4)
    val lReadName = b(8) & 0xff
    val mapq = b(9) & 0xff
    val nCigar = u16(b, 12)
    val flag = u16(b, 14)
    val lSeq = i32(b, 16)
    val nextRefId = i32(b, 20)
    val nextPos = i32(b, 24)
    val tlen = i32(b, 28)
    var o = 32
    val readName = new String(b, o, lReadName - 1, "UTF-8"); o += lReadName
    val cigarSb = new StringBuilder
    var refLen = 0L
    var k = 0
    while (k < nCigar) {
      val v = i32(b, o); o += 4
      val opLen = v >>> 4
      val op = CigarOps.charAt(v & 0xf)
      cigarSb.append(opLen).append(op)
      if (op == 'M' || op == 'D' || op == 'N' || op == '=' || op == 'X')
        refLen += opLen
      k += 1
    }
    val seqSb = new StringBuilder(lSeq)
    var i = 0
    while (i < lSeq) {
      val byte = b(o + i / 2) & 0xff
      val nib = if (i % 2 == 0) byte >> 4 else byte & 0xf
      seqSb.append(SeqChars.charAt(nib))
      i += 1
    }
    o += (lSeq + 1) / 2
    val qualRaw = b.slice(o, o + lSeq); o += lSeq
    val quals =
      if (lSeq == 0 || (qualRaw.nonEmpty && (qualRaw(0) & 0xff) == 0xff)) None
      else Some(qualRaw.map(q => ((q & 0xff) + 33).toChar).mkString)

    // tags
    val attrs = Map.newBuilder[String, String]
    while (o < b.length) {
      val tag = new String(b, o, 2, "ISO-8859-1"); o += 2
      val typ = b(o).toChar; o += 1
      def readVal(t: Char): String = t match {
        case 'A' => val v = b(o).toChar.toString; o += 1; v
        case 'c' => val v = b(o).toString; o += 1; v
        case 'C' => val v = (b(o) & 0xff).toString; o += 1; v
        case 's' => val v = u16(b, o).toShort.toString; o += 2; v
        case 'S' => val v = u16(b, o).toString; o += 2; v
        case 'i' | 'I' => val v = i32(b, o).toString; o += 4; v
        case 'f' =>
          val v = java.lang.Float.intBitsToFloat(i32(b, o)).toString; o += 4; v
        case 'Z' | 'H' =>
          val e = { var j = o; while (b(j) != 0) j += 1; j }
          val v = new String(b, o, e - o, "UTF-8"); o = e + 1; v
        case 'B' =>
          val sub = b(o).toChar; o += 1
          val n = i32(b, o); o += 4
          val vals = (0 until n).map(_ => readVal(sub))
          s"$sub,${vals.mkString(",")}"
        case other => throw new IllegalStateException(s"tag type $other")
      }
      val tchar = typ match {
        case 'c' | 'C' | 's' | 'S' | 'I' => 'i'
        case t => t
      }
      attrs += (tag -> s"$tchar:${readVal(typ)}")
    }
    val attributes = attrs.result()

    def bit(m: Int): Boolean = (flag & m) != 0
    val mapped = !bit(0x4) && refId >= 0
    Alignment(
      readName = Some(readName),
      referenceName = if (refId >= 0) Some(refNames(refId)) else None,
      start = if (mapped) Some(pos.toLong) else None,
      end = if (mapped) Some(pos.toLong + refLen) else None,
      mappingQuality = if (mapq == 255) None else Some(mapq),
      cigar = if (nCigar > 0) Some(cigarSb.toString) else None,
      mateReferenceName = if (nextRefId >= 0) Some(refNames(nextRefId)) else None,
      mateAlignmentStart = if (nextPos >= 0 && bit(0x1)) Some(nextPos.toLong) else None,
      insertSize = if (tlen != 0) Some(tlen.toLong) else None,
      sequence = if (lSeq > 0) Some(seqSb.toString) else None,
      qualityScores = quals,
      readPaired = Some(bit(0x1)), properPair = Some(bit(0x2)),
      readMapped = Some(mapped), mateMapped = Some(!bit(0x8)),
      readNegativeStrand = Some(bit(0x10)), mateNegativeStrand = Some(bit(0x20)),
      readInFragment = Some(if (bit(0x80)) 1 else 0),
      secondaryAlignment = Some(bit(0x100)),
      failedVendorQualityChecks = Some(bit(0x200)),
      duplicateRead = Some(bit(0x400)),
      supplementaryAlignment = Some(bit(0x800)),
      primaryAlignment = Some(!bit(0x100) && !bit(0x800)),
      readGroupId = attributes.get("RG").map(_.drop(2)),
      mismatchingPositions = attributes.get("MD").map(_.drop(2)),
      attributes = attributes)
  }

  private def recordIterator(in: InputStream, refNames: Array[String]): Iterator[Alignment] =
    new Iterator[Alignment] {
      private var nextRec: Alignment = advance()
      private def advance(): Alignment = {
        val szb = new Array[Byte](4)
        var off = 0
        while (off < 4) {
          val r = in.read(szb, off, 4 - off)
          if (r < 0) { if (off == 0) return null
            else throw new EOFException("truncated BAM record header") }
          off += r
        }
        val blockSize = i32(szb, 0)
        decodeRecord(readFully(in, blockSize), refNames)
      }
      def hasNext: Boolean = nextRec != null
      def next(): Alignment = { val r = nextRec; nextRec = advance(); r }
    }

  /** Iterate records but stop before the first record whose initial byte
    * belongs to a block at/after `end` — the split-ownership rule. */
  private def boundedRecordIterator(
      in: Bgzf.BgzfBlockInput, refNames: Array[String],
      end: Long): Iterator[Alignment] =
    new Iterator[Alignment] {
      private var nextRec: Alignment = advance()
      private def advance(): Alignment = {
        if (in.nextByteBlockStart >= end) { in.close(); return null }
        val szb = new Array[Byte](4)
        var off = 0
        while (off < 4) {
          val r = in.read(szb, off, 4 - off)
          if (r < 0) { if (off == 0) { in.close(); return null }
            else throw new EOFException("truncated BAM record header") }
          off += r
        }
        decodeRecord(readFully(in, i32(szb, 0)), refNames)
      }
      def hasNext: Boolean = nextRec != null
      def next(): Alignment = { val r = nextRec; nextRec = advance(); r }
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
      boundedRecordIterator(in, names, end)
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
          boundedRecordIterator(in, refNames, end)
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

    val (meta, refNames) = {
      val in = Bgzf.inputStream(fs.open(new Path(files.head._1)))
      try readHeader(in) finally in.close()
    }

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
    val (meta, refNames) = {
      val in = Bgzf.inputStream(fs.open(p))
      try readHeader(in) finally in.close()
    }
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
        val names = refNamesB.value
        val rs = regionsB.value
        new Iterator[Alignment] {
          private var nextRec: Alignment = advance()
          private def advance(): Alignment = {
            while (in.virtualPos < chunk.end) {
              val szb = new Array[Byte](4)
              var off = 0
              var eof = false
              while (off < 4 && !eof) {
                val r = in.read(szb, off, 4 - off)
                if (r < 0) eof = true else off += r
              }
              if (eof) { in.close(); return null }
              val rec = decodeRecord(readFully(in, i32(szb, 0)), names)
              val hit = (rec.referenceName, rec.start, rec.end) match {
                case (Some(rn), Some(s), Some(e)) =>
                  rs.exists(rr => rr.referenceName == rn && s < rr.end && rr.start < e)
                case _ => false
              }
              if (hit) return rec
            }
            in.close(); null
          }
          def hasNext: Boolean = nextRec != null
          def next(): Alignment = { val r = nextRec; nextRec = advance(); r }
        }
      }
    GenomicDataset(spark.createDataset(rdd), meta)
  }

  // ------------------------------- write ----------------------------------

  private def encodeRecord(r: Alignment, refIndex: Map[String, Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def w32(v: Int): Unit = { u8(v); u8(v >> 8); u8(v >> 16); u8(v >> 24) }

    val name = r.readName.getOrElse("*")
    val cigar = Cigar.parse(r.cigar.getOrElse(""))
    val seq = r.sequence.getOrElse("")
    val flag = SamIO.flagOf(r)
    w32(r.referenceName.flatMap(refIndex.get).getOrElse(-1))
    w32(r.start.map(_.toInt).getOrElse(-1))
    u8(name.length + 1)
    u8(r.mappingQuality.getOrElse(255))
    w16(0) // bin (unused by our reader)
    w16(cigar.length)
    w16(flag)
    w32(seq.length)
    w32(r.mateReferenceName.flatMap(refIndex.get).getOrElse(-1))
    w32(r.mateAlignmentStart.map(_.toInt).getOrElse(-1))
    w32(r.insertSize.map(_.toInt).getOrElse(0))
    out.write(name.getBytes("UTF-8")); u8(0)
    cigar.foreach(e => w32((e.length << 4) | CigarOps.indexOf(e.op)))
    var i = 0
    while (i < seq.length) {
      val hi = SeqChars.indexOf(Character.toUpperCase(seq.charAt(i))) max 0
      val lo = if (i + 1 < seq.length)
        SeqChars.indexOf(Character.toUpperCase(seq.charAt(i + 1))) max 0 else 0
      u8((hi << 4) | lo)
      i += 2
    }
    // exactly l_seq quality bytes (SAM spec §4.2): a quality string of any
    // other length is written as missing (0xff), or the reader would take
    // tag bytes for qualities
    r.qualityScores match {
      case Some(q) if q.length == seq.length => q.foreach(c => u8(c - 33))
      case _ => (0 until seq.length).foreach(_ => u8(0xff))
    }
    // tags: keep string/int-typed attributes
    r.attributes.toSeq.sortBy(_._1).foreach { case (tag, tv) =>
      if (tag.length == 2 && tv.length > 2 && tv(1) == ':') {
        val typ = tv(0); val v = tv.drop(2)
        typ match {
          case 'i' =>
            out.write(tag.getBytes("ISO-8859-1")); u8('i')
            w32(v.toInt)
          case 'Z' =>
            out.write(tag.getBytes("ISO-8859-1")); u8('Z')
            out.write(v.getBytes("UTF-8")); u8(0)
          case 'A' =>
            out.write(tag.getBytes("ISO-8859-1")); u8('A'); u8(v.head)
          case 'f' =>
            out.write(tag.getBytes("ISO-8859-1")); u8('f')
            w32(java.lang.Float.floatToIntBits(v.toFloat))
          case _ => // drop H/B on write (round-trip subset)
        }
      }
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
    val headerText = SamIO.headerLines(meta, gd.sorted).mkString("", "\n", "\n")

    def writeHeaderTo(out: java.io.OutputStream): Unit = {
      def w32(v: Int): Unit = {
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
      }
      out.write(BamMagic)
      val ht = headerText.getBytes("UTF-8")
      w32(ht.length); out.write(ht)
      w32(meta.sequences.records.length)
      meta.sequences.records.foreach { r =>
        val nb = (r.name.getBytes("UTF-8") :+ 0.toByte)
        w32(nb.length); out.write(nb)
        w32(r.length.toInt)
      }
    }

    if (asSingleFile && !writeIndex) {
      // Distributed single-file write: executors emit records-only BGZF
      // fragments; the merge concatenates header member + parts + EOF
      // marker (BGZF is valid under concatenation). No driver streaming.
      val spark = gd.spark
      val refIndexB = spark.sparkContext.broadcast(refIndex)
      val partsDir = path + "._parts"
      val dir = new Path(partsDir)
      val fs0 = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs0.mkdirs(dir)
      val confB = spark.sparkContext.broadcast(HadoopConf(spark))
      gd.records.mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val part = new Path(dir, f"part-$pid%05d")
          val fs = part.getFileSystem(confB.value.value)
          val out = new Bgzf.BgzfOutputStream(fs.create(part, true),
            writeEofOnClose = false)
          try it.foreach { r =>
            val rec = encodeRecord(r, refIndexB.value)
            val sz = Array[Byte](
              (rec.length & 0xff).toByte, ((rec.length >> 8) & 0xff).toByte,
              ((rec.length >> 16) & 0xff).toByte, ((rec.length >> 24) & 0xff).toByte)
            out.write(sz); out.write(rec)
          } finally out.close()
          Iterator.single(1)
        }
      }.count()
      val headerBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        val hout = new Bgzf.BgzfOutputStream(bos, writeEofOnClose = false)
        writeHeaderTo(hout)
        hout.close()
        bos.toByteArray
      }
      FileMerger.mergeBinary(spark, partsDir, path, headerBytes, Bgzf.EofMarker)
    } else if (asSingleFile) {
      val conf = gd.spark.sparkContext.hadoopConfiguration
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val out = new Bgzf.BgzfOutputStream(fs.create(p, true))
      val baiB =
        if (writeIndex)
          Some(new Bai.Builder(meta.sequences.records.length,
            meta.sequences.records.map(_.length)))
        else None
      try {
        writeHeaderTo(out)
        gd.records.toLocalIterator.foreach { r =>
          val rec = encodeRecord(r, refIndex)
          val vStart = out.virtualOffset
          val sz = new Array[Byte](4)
          sz(0) = (rec.length & 0xff).toByte
          sz(1) = ((rec.length >> 8) & 0xff).toByte
          sz(2) = ((rec.length >> 16) & 0xff).toByte
          sz(3) = ((rec.length >> 24) & 0xff).toByte
          out.write(sz); out.write(rec)
          baiB.foreach { b =>
            (r.referenceName.flatMap(refIndex.get), r.start) match {
              case (Some(ri), Some(s)) =>
                b.add(ri, s, r.end.getOrElse(s + 1), vStart, out.virtualOffset)
              case _ =>
            }
          }
        }
      } finally out.close()
      baiB.foreach { b =>
        val baiOut = fs.create(new Path(path + ".bai"), true)
        try Bai.write(b.result(), baiOut) finally baiOut.close()
      }
    } else {
      val spark = gd.spark
      val refIndexB = spark.sparkContext.broadcast(refIndex)
      val headerB = spark.sparkContext.broadcast(
        (headerText, meta.sequences.records.map(r => (r.name, r.length))))
      val dir = new Path(path)
      val fs0 = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs0.mkdirs(dir)
      val confB = spark.sparkContext.broadcast(HadoopConf(spark))
      gd.records.mapPartitionsWithIndex { (pid, it) =>
        val part = new Path(dir, f"part-$pid%05d.bam")
        val fs = part.getFileSystem(confB.value.value)
        val out = new Bgzf.BgzfOutputStream(fs.create(part, true))
        try {
          val (ht, refs) = headerB.value
          def w32(v: Int): Unit = {
            out.write(v & 0xff); out.write((v >> 8) & 0xff)
            out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
          }
          out.write(BamMagic)
          val hb = ht.getBytes("UTF-8"); w32(hb.length); out.write(hb)
          w32(refs.length)
          refs.foreach { case (n, l) =>
            val nb = (n.getBytes("UTF-8") :+ 0.toByte)
            w32(nb.length); out.write(nb); w32(l.toInt)
          }
          it.foreach { r =>
            val rec = encodeRecord(r, refIndexB.value)
            w32(rec.length); out.write(rec)
          }
        } finally out.close()
        Iterator.single(1)
      }.count()
    }
  }
}
