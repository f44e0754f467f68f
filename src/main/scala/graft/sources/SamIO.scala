package graft.sources

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import graft.core.GenomicDataset
import graft.model._

/** SAM text IO (public SAM spec v1; reference loads via hadoop-bam +
  * htsjdk, ADAMContext.scala:2041-2111 — this stack has neither, so the
  * text format is parsed directly), and the one Alignment ⇄ SAM record
  * mapping that the SAM, BAM ([[BamIO]]) and CRAM ([[CramIO]]) codecs
  * share, as ADAM's AlignmentConverter / SAMRecordConverter pair serves all
  * of its SAM-family formats. The binary codecs keep only their container
  * and byte layout; the mapping rules live here:
  *
  *  - Flag ⇄ fields: [[FlagTable]] names the Alignment field each bit
  *    stores. [[flagOf]] writes it, [[alignment]] reads it back, and the
  *    CLI's `view` flag filters are built from it ([[isSet]]).
  *  - Mate fields of unpaired reads: bits 0x2, 0x8, 0x20, 0x40 and 0x80
  *    mean nothing without 0x1 (SAM §1.4), so an unpaired read writes none
  *    of them and reads back `properPair`, `mateMapped` and
  *    `mateNegativeStrand` false and `readInFragment` 0. RNEXT, PNEXT and
  *    TLEN are stored and read back whatever the flag says.
  *  - Tag typing: attributes hold SAM text `t:value`. [[writeTag]] stores an
  *    integer as BAM `i`, or `I` from 2³¹ to 2³²-1; `A`, `f`, `Z`, `H` and
  *    `B` arrays keep their type. [[readTag]] reads every integer width
  *    (`c/C/s/S/i/I`, `I` unsigned) back as `i`, and `B` elements in their
  *    subtype's signedness.
  *  - Quality: kept only when it is exactly as long as the sequence (SAM
  *    §1.4), else written missing: `*` in SAM, and in BAM/CRAM exactly
  *    l_seq bytes, 0xff when missing ([[writeQuality]], [[readQuality]]).
  *  - A missing read name is written `*` (CRAM: empty), and `*` or an
  *    empty name reads back `None`.
  *
  * Header (@HD/@SQ/@RG/@PG lines) → driver-side GenomicMetadata, exactly
  * like the reference reads headers on the driver (AC:2055-2085); records
  * parse in parallel executors.
  */
object SamIO {

  private implicit val alignmentEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  // ----------------------- flags ⇄ Alignment fields ------------------------

  /** One SAM flag bit: set when the Alignment field `field` holds `value`,
    * or, if `negated`, when it does not (a missing value never holds). */
  final case class Flag(bit: Int, field: String, value: Any, negated: Boolean = false) {
    private[SamIO] val index = Alignment().productElementNames.indexOf(field)
    require(index >= 0, s"Alignment has no field $field")
    private[SamIO] val some = Some(value)
  }

  val Paired = Flag(0x1, "readPaired", true)
  val ProperPair = Flag(0x2, "properPair", true)
  val Unmapped = Flag(0x4, "readMapped", true, negated = true)
  val MateUnmapped = Flag(0x8, "mateMapped", false)
  val Reverse = Flag(0x10, "readNegativeStrand", true)
  val MateReverse = Flag(0x20, "mateNegativeStrand", true)
  val First = Flag(0x40, "readInFragment", 0)
  val Second = Flag(0x80, "readInFragment", 1)
  val Secondary = Flag(0x100, "secondaryAlignment", true)
  val VendorFailed = Flag(0x200, "failedVendorQualityChecks", true)
  val Duplicate = Flag(0x400, "duplicateRead", true)
  val Supplementary = Flag(0x800, "supplementaryAlignment", true)

  /** The SAM flag table (SAM spec §1.4). */
  val FlagTable: IndexedSeq[Flag] = IndexedSeq(Paired, ProperPair, Unmapped,
    MateUnmapped, Reverse, MateReverse, First, Second, Secondary, VendorFailed,
    Duplicate, Supplementary)

  /** The bits that count only when [[Paired]] is set. */
  val PairedBits: Int = Seq(ProperPair, MateUnmapped, MateReverse, First, Second).map(_.bit).sum

  def flagOf(r: Alignment): Int = {
    var f = 0
    var i = 0
    while (i < FlagTable.length) {
      val e = FlagTable(i)
      if ((r.productElement(e.index) == e.some) != e.negated) f |= e.bit
      i += 1
    }
    if ((f & Paired.bit) == 0) f & ~PairedBits else f
  }

  /** Whether [[flagOf]] sets `e.bit`, as a Column over Alignment rows. */
  def isSet(e: Flag): Column = {
    val holds = coalesce(col(e.field) === lit(e.value), lit(false))
    val set = if (e.negated) !holds else holds
    if ((e.bit & PairedBits) != 0) set && isSet(Paired) else set
  }

  /** The one SAM record → Alignment mapping. Each codec decodes its own
    * layout into these SAM fields and calls this. Absent values are `null`
    * strings, position -1 (0-based), MAPQ 255 and TLEN 0; an empty name,
    * CIGAR or sequence is absent too. `refLen` is the CIGAR's reference
    * length. `readGroup`, when given (CRAM's RG series), wins over the RG
    * tag. */
  private[sources] def alignment(name: String, flag: Int, referenceName: String,
      pos: Long, refLen: Long, mapq: Int, cigar: String,
      mateReferenceName: String, matePos: Long, tlen: Long, sequence: String,
      quality: Option[String], attributes: Map[String, String],
      readGroup: String = null): Alignment = {
    def has(e: Flag): Boolean = (flag & e.bit) != 0 &&
      ((e.bit & PairedBits) == 0 || (flag & Paired.bit) != 0)
    val mapped = !has(Unmapped) && referenceName != null
    val start = if (mapped && pos >= 0) Some(pos) else None
    def present(s: String): Option[String] =
      if (s == null || s.isEmpty) None else Some(s)
    Alignment(
      readName = if (name == "*") None else present(name),
      referenceName = Option(referenceName),
      start = start,
      end = start.map(_ + refLen),
      mappingQuality = if (mapq == 255) None else Some(mapq),
      cigar = present(cigar),
      mateReferenceName = Option(mateReferenceName),
      mateAlignmentStart = if (matePos >= 0) Some(matePos) else None,
      insertSize = if (tlen != 0) Some(tlen) else None,
      sequence = present(sequence),
      qualityScores = quality,
      readPaired = Some(has(Paired)),
      properPair = Some(has(ProperPair)),
      readMapped = Some(mapped),
      mateMapped = Some(has(Paired) && !has(MateUnmapped)),
      readNegativeStrand = Some(has(Reverse)),
      mateNegativeStrand = Some(has(MateReverse)),
      readInFragment = Some(if (has(Second)) 1 else 0),
      secondaryAlignment = Some(has(Secondary)),
      supplementaryAlignment = Some(has(Supplementary)),
      primaryAlignment = Some(!has(Secondary) && !has(Supplementary)),
      failedVendorQualityChecks = Some(has(VendorFailed)),
      duplicateRead = Some(has(Duplicate)),
      readGroupId =
        if (readGroup != null) Some(readGroup) else attributes.get("RG").map(_.drop(2)),
      mismatchingPositions = attributes.get("MD").map(_.drop(2)),
      attributes = attributes)
  }

  // --------------------------- typed tag values ----------------------------

  private[sources] def le32(o: OutputStream, v: Int): Unit = {
    o.write(v); o.write(v >> 8); o.write(v >> 16); o.write(v >> 24)
  }
  private[sources] def le(b: Array[Byte], o: Int, width: Int): Int = {
    var v = 0
    var k = width - 1
    while (k >= 0) { v = (v << 8) | (b(o + k) & 0xff); k -= 1 }
    v
  }
  /** Bytes of one BAM tag value, or array element, of fixed-size type `t`. */
  private[sources] def width(t: Char): Int = t match {
    case 'A' | 'c' | 'C' => 1
    case 's' | 'S' => 2
    case 'i' | 'I' | 'f' => 4
    case other => throw new IllegalArgumentException(s"BAM tag type '$other'")
  }

  /** Writes attribute `key` -> SAM text `tv` as a BAM tag: the two key
    * bytes, the type byte and the value bytes. Returns false, writing
    * nothing, when `tv` is not a typed SAM tag value. */
  private[sources] def writeTag(key: String, tv: String, out: OutputStream): Boolean = {
    if (key.length != 2 || tv.length < 2 || tv(1) != ':' || "AifZHB".indexOf(tv(0)) < 0)
      return false
    out.write(key(0)); out.write(key(1))
    def number(t: Char, v: String): Unit = t match {
      case 'c' | 'C' => out.write(v.toInt)
      case 's' | 'S' => val x = v.toInt; out.write(x); out.write(x >> 8)
      case 'i' | 'I' => le32(out, v.toLong.toInt)
      case 'f' => le32(out, java.lang.Float.floatToIntBits(v.toFloat))
      case other => throw new IllegalArgumentException(s"tag $key: array type '$other'")
    }
    tv(0) match {
      case 'A' => out.write('A'); out.write(tv(2))
      case 'i' =>
        val v = java.lang.Long.parseLong(tv, 2, tv.length, 10)
        require(v >= Int.MinValue && v <= 0xffffffffL, s"tag $key: $v is out of BAM's integer range")
        out.write(if (v > Int.MaxValue) 'I' else 'i'); le32(out, v.toInt)
      case 'f' => out.write('f'); number('f', tv.substring(2))
      case 'B' =>
        val parts = tv.substring(2).split(',')
        val sub = parts(0).head
        out.write('B'); out.write(sub); le32(out, parts.length - 1)
        var k = 1
        while (k < parts.length) { number(sub, parts(k)); k += 1 }
      case t => // Z and H: NUL-terminated text
        val bytes = tv.getBytes(UTF_8)
        out.write(t); out.write(bytes, 2, bytes.length - 2); out.write(0)
    }
    true
  }

  /** Appends the SAM text (`t:value`) of the BAM tag value of type `typ`
    * at `b(o)` to `sb`, and returns the offset after the value. A `Z`/`H`
    * value ends at a NUL or at the end of `b`. */
  private[sources] def readTag(typ: Char, b: Array[Byte], o: Int,
      sb: java.lang.StringBuilder): Int = {
    def number(t: Char, p: Int): Unit = t match {
      case 'c' => sb.append(b(p).toInt)
      case 'C' => sb.append(b(p) & 0xff)
      case 's' => sb.append(le(b, p, 2).toShort.toInt)
      case 'S' => sb.append(le(b, p, 2))
      case 'i' => sb.append(le(b, p, 4))
      case 'I' => sb.append(le(b, p, 4) & 0xffffffffL)
      case 'f' => sb.append(java.lang.Float.toString(java.lang.Float.intBitsToFloat(le(b, p, 4))))
    }
    typ match {
      case 'A' => sb.append("A:").append((b(o) & 0xff).toChar); o + 1
      case 'Z' | 'H' =>
        var e = o
        while (e < b.length && b(e) != 0) e += 1
        sb.append(typ).append(':').append(new String(b, o, e - o, UTF_8))
        e + 1
      case 'B' =>
        val sub = b(o).toChar
        val w = width(sub)
        val n = le(b, o + 1, 4)
        sb.append("B:").append(sub)
        var k = 0
        while (k < n) { sb.append(','); number(sub, o + 5 + k * w); k += 1 }
        o + 5 + n * w
      case t =>
        val w = width(t) // rejects an unknown type
        sb.append(if (t == 'f') "f:" else "i:")
        number(t, o)
        o + w
    }
  }

  // -------------------------------- quality --------------------------------

  /** The quality string a SAM-family record stores, or null when it is
    * written as missing. */
  private def keptQuality(r: Alignment): String = {
    val q = r.qualityScores.orNull
    val s = r.sequence.orNull
    if (q != null && s != null && q.nonEmpty && q.length == s.length) q else null
  }

  /** Exactly `n` (l_seq) quality bytes for `r` (SAM spec §4.2): phred
    * values, or 0xff each when the quality is missing. */
  private[sources] def writeQuality(r: Alignment, n: Int, out: OutputStream): Unit = {
    val q = keptQuality(r)
    var i = 0
    while (i < n) { out.write(if (q == null) 0xff else q.charAt(i) - 33); i += 1 }
  }

  /** The quality string of the `n` quality bytes at `b(o)`: missing when
    * there are none or the first is 0xff. */
  private[sources] def readQuality(b: Array[Byte], o: Int, n: Int): Option[String] =
    if (n == 0 || (b(o) & 0xff) == 0xff) None
    else {
      val c = new Array[Char](n)
      var i = 0
      while (i < n) { c(i) = ((b(o + i) & 0xff) + 33).toChar; i += 1 }
      Some(new String(c))
    }

  // ---------------------------------- text ---------------------------------

  def parseHeader(headerLines: Seq[String]): GenomicMetadata = {
    def tags(l: String): Map[String, String] =
      l.split("\t").drop(1).flatMap { t =>
        val i = t.indexOf(':')
        if (i > 0) Some(t.substring(0, i) -> t.substring(i + 1)) else None
      }.toMap

    val seqs = headerLines.filter(_.startsWith("@SQ")).zipWithIndex.map {
      case (l, i) =>
        val t = tags(l)
        SequenceRecord(t("SN"), t("LN").toLong, t.get("M5"), t.get("UR"), Some(i))
    }
    val rgs = headerLines.filter(_.startsWith("@RG")).map { l =>
      val t = tags(l)
      ReadGroup(
        sampleId = t.getOrElse("SM", t("ID")), id = t("ID"),
        sequencingCenter = t.get("CN"), description = t.get("DS"),
        library = t.get("LB"), platform = t.get("PL"),
        platformUnit = t.get("PU"))
    }
    val pgs = headerLines.filter(_.startsWith("@PG")).map { l =>
      val t = tags(l)
      ProcessingStep(t("ID"), t.get("PN"), t.get("CL"), t.get("PP"), t.get("VN"))
    }
    GenomicMetadata(
      SequenceDictionary(seqs), ReadGroupDictionary(rgs),
      rgs.map(rg => Sample(rg.sampleId)).distinctBy(_.id), pgs)
  }

  def parseRecord(l: String): Alignment = {
    val f = l.split("\t", -1)
    def field(i: Int): String = if (f(i) == "*") null else f(i)
    val cigar = field(5)
    val attrs = f.drop(11).flatMap { t =>
      // tag format XX:T:value
      val parts = t.split(":", 3)
      if (parts.length == 3) Some(parts(0) -> s"${parts(1)}:${parts(2)}") else None
    }.toMap
    alignment(name = f(0), flag = f(1).toInt, referenceName = field(2),
      pos = f(3).toLong - 1,
      refLen = if (cigar == null) 0L else Cigar.referenceLength(cigar),
      mapq = f(4).toInt, cigar = cigar,
      mateReferenceName = if (f(6) == "=") field(2) else field(6),
      matePos = f(7).toLong - 1, tlen = f(8).toLong, sequence = field(9),
      quality = Option(field(10)), attributes = attrs)
  }

  /** Load SAM: header read driver-side from the head of each file (no
    * distributed scan — see [[TextHeader]]), records parsed in parallel. */
  def read(spark: SparkSession, path: String): GenomicDataset[Alignment] = {
    import spark.implicits._
    val lines = spark.read.textFile(path)
    val header = TextHeader.headerLines(spark, path, "@")
    val records = lines
      .filter((l: String) => l.nonEmpty && !l.startsWith("@"))
      .map(parseRecord)
    GenomicDataset(records, parseHeader(header))
  }

  def toSamLine(r: Alignment): String = Seq(
    r.readName.getOrElse("*"),
    flagOf(r).toString,
    r.referenceName.getOrElse("*"),
    r.start.map(s => (s + 1).toString).getOrElse("0"),
    r.mappingQuality.map(_.toString).getOrElse("255"),
    r.cigar.getOrElse("*"),
    (r.mateReferenceName, r.referenceName) match {
      case (Some(m), Some(n)) if m == n => "="
      case (Some(m), _) => m
      case _ => "*"
    },
    r.mateAlignmentStart.map(s => (s + 1).toString).getOrElse("0"),
    r.insertSize.map(_.toString).getOrElse("0"),
    r.sequence.filter(_.nonEmpty).getOrElse("*"),
    Option(keptQuality(r)).getOrElse("*")
  ).mkString("\t") + {
    val tags = r.attributes.toSeq.sortBy(_._1)
      .map { case (k, tv) => s"$k:$tv" }
    if (tags.isEmpty) "" else tags.mkString("\t", "\t", "")
  }

  def headerLines(meta: GenomicMetadata, sorted: Boolean = false): Seq[String] = {
    val hd = s"@HD\tVN:1.6\tSO:${if (sorted) "coordinate" else "unsorted"}"
    val sq = meta.sequences.records.map(r =>
      s"@SQ\tSN:${r.name}\tLN:${r.length}" +
        r.md5.map(m => s"\tM5:$m").getOrElse(""))
    val rg = meta.readGroups.readGroups.map(g =>
      s"@RG\tID:${g.id}\tSM:${g.sampleId}" +
        g.library.map(l => s"\tLB:$l").getOrElse("") +
        g.platform.map(p => s"\tPL:$p").getOrElse(""))
    val pg = meta.processingSteps.map(p =>
      s"@PG\tID:${p.id}" + p.programName.map(n => s"\tPN:$n").getOrElse("") +
        p.previousId.map(n => s"\tPP:$n").getOrElse(""))
    hd +: (sq ++ rg ++ pg)
  }

  /** Save as SAM text (saveAsSam, AlignmentDataset.scala:810-998): record
    * lines distributed; header written as its own file, merged in
    * [[FileMerger.mergeToSingleFile]] when a single file is requested. */
  def write(gd: GenomicDataset[Alignment], path: String,
      asSingleFile: Boolean = false): Unit = {
    val body = s"$path.body"
    val header = headerLines(gd.meta, gd.sorted).mkString("", "\n", "\n")
    gd.spark.createDataset(gd.records.map(toSamLine))(Encoders.STRING)
      .write.mode("overwrite").text(body)
    if (asSingleFile)
      FileMerger.mergeToSingleFile(gd.spark, body, path, header = Some(header))
    else {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(gd.spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$body/_header.sam"), true)
      out.write(header.getBytes("UTF-8"))
      out.close()
      fs.rename(new org.apache.hadoop.fs.Path(body),
        new org.apache.hadoop.fs.Path(path))
    }
  }
}
