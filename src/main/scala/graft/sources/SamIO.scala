package graft.sources

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import graft.core.GenomicDataset
import graft.model._

/** SAM text IO (public SAM spec v1; reference loads via hadoop-bam +
  * htsjdk, ADAMContext.scala:2041-2111 — this stack has neither, so the
  * text format is parsed directly; BAM/CRAM binary containers are out of
  * scope for this build).
  *
  * Header (@HD/@SQ/@RG/@PG lines) → driver-side GenomicMetadata, exactly
  * like the reference reads headers on the driver (AC:2055-2085); records
  * parse in parallel executors.
  */
object SamIO {

  private implicit val alignmentEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  // ----------------------------- flag bits ---------------------------------

  object Flags {
    val Paired = 0x1; val ProperPair = 0x2; val Unmapped = 0x4
    val MateUnmapped = 0x8; val Reverse = 0x10; val MateReverse = 0x20
    val First = 0x40; val Second = 0x80; val Secondary = 0x100
    val VendorFailed = 0x200; val Duplicate = 0x400; val Supplementary = 0x800
  }

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
    val flag = f(1).toInt
    def bit(b: Int): Boolean = (flag & b) != 0
    val mapped = !bit(Flags.Unmapped)
    val start = if (mapped) Some(f(3).toLong - 1) else None
    val cigar = if (f(5) == "*") None else Some(f(5))
    val attrs = f.drop(11).flatMap { t =>
      // tag format XX:T:value
      val parts = t.split(":", 3)
      if (parts.length == 3) Some(parts(0) -> s"${parts(1)}:${parts(2)}") else None
    }.toMap
    Alignment(
      readName = if (f(0) == "*") None else Some(f(0)),
      referenceName = if (f(2) == "*") None else Some(f(2)),
      start = start,
      end = for (s <- start; c <- cigar) yield s + Cigar.referenceLength(c),
      mappingQuality = if (f(4) == "255") None else Some(f(4).toInt),
      cigar = cigar,
      mateReferenceName = f(6) match {
        case "*" => None
        case "=" => if (f(2) == "*") None else Some(f(2))
        case o => Some(o)
      },
      mateAlignmentStart = if (f(7) == "0") None else Some(f(7).toLong - 1),
      insertSize = if (f(8) == "0") None else Some(f(8).toLong),
      sequence = if (f(9) == "*") None else Some(f(9)),
      qualityScores = if (f(10) == "*") None else Some(f(10)),
      readPaired = Some(bit(Flags.Paired)),
      properPair = Some(bit(Flags.ProperPair)),
      readMapped = Some(mapped),
      mateMapped = Some(!bit(Flags.MateUnmapped)),
      readNegativeStrand = Some(bit(Flags.Reverse)),
      mateNegativeStrand = Some(bit(Flags.MateReverse)),
      readInFragment =
        if (bit(Flags.First)) Some(0)
        else if (bit(Flags.Second)) Some(1) else Some(0),
      secondaryAlignment = Some(bit(Flags.Secondary)),
      supplementaryAlignment = Some(bit(Flags.Supplementary)),
      primaryAlignment = Some(!bit(Flags.Secondary) && !bit(Flags.Supplementary)),
      failedVendorQualityChecks = Some(bit(Flags.VendorFailed)),
      duplicateRead = Some(bit(Flags.Duplicate)),
      readGroupId = attrs.get("RG").map(_.drop(2)),
      mismatchingPositions = attrs.get("MD").map(_.drop(2)),
      attributes = attrs)
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

  def flagOf(r: Alignment): Int = {
    var f = 0
    def set(b: Boolean, bit: Int): Unit = if (b) f |= bit
    set(r.readPaired.getOrElse(false), Flags.Paired)
    set(r.properPair.getOrElse(false), Flags.ProperPair)
    set(!r.readMapped.getOrElse(false), Flags.Unmapped)
    set(r.readPaired.getOrElse(false) && !r.mateMapped.getOrElse(true),
      Flags.MateUnmapped)
    set(r.readNegativeStrand.getOrElse(false), Flags.Reverse)
    set(r.mateNegativeStrand.getOrElse(false), Flags.MateReverse)
    if (r.readPaired.getOrElse(false)) {
      set(r.readInFragment.contains(0), Flags.First)
      set(r.readInFragment.contains(1), Flags.Second)
    }
    set(r.secondaryAlignment.getOrElse(false), Flags.Secondary)
    set(r.failedVendorQualityChecks.getOrElse(false), Flags.VendorFailed)
    set(r.duplicateRead.getOrElse(false), Flags.Duplicate)
    set(r.supplementaryAlignment.getOrElse(false), Flags.Supplementary)
    f
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
    // SAM §1.4: QUAL is '*' or exactly as long as SEQ
    r.qualityScores.filter(q => q.nonEmpty && r.sequence.exists(_.length == q.length))
      .getOrElse("*")
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
    gd.spark.createDataset(gd.records.map(toSamLine))(Encoders.STRING)
      .write.mode("overwrite").text(body)
    if (asSingleFile)
      FileMerger.mergeToSingleFile(gd.spark, body, path,
        header = Some(headerLines(gd.meta, gd.sorted).mkString("", "\n", "\n")))
    else {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(gd.spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$body/_header.sam"), true)
      out.write(headerLines(gd.meta, gd.sorted).mkString("", "\n", "\n").getBytes("UTF-8"))
      out.close()
      fs.rename(new org.apache.hadoop.fs.Path(body),
        new org.apache.hadoop.fs.Path(path))
    }
  }
}
