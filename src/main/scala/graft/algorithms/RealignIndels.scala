package graft.algorithms

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{ReferenceContigs, ReferenceSource}
import graft.model.{Alignment, Cigar, ReferenceRegion}

/** Local indel realignment (SURVEY.md §2.5; reference
  * ds/read/realignment/RealignIndels.scala + RealignmentTargetFinder.scala
  * + algorithms/consensus/ConsensusGenerator*.scala):
  *
  *  1. target discovery: reference spans of indel evidence (I/D CIGAR
  *     elements), merged when within `maxTargetGap` — a distributed
  *     gaps-and-islands merge (window formulation; the reference does a
  *     sorted fold, RealignmentTargetFinder.scala:126);
  *  2. read→target assignment via the binned overlap join (the reference
  *     uses binary search against a collected target array,
  *     RealignIndels.mapToTarget:80-130 — ours stays distributed);
  *  3. per-target realignment in `flatMapGroups`: candidate consensuses
  *     from observed indels, each read re-scored against each consensus
  *     (sum of phred qualities at mismatching bases, the reference's
  *     scoring), best consensus applied when it beats the original by the
  *     LOD threshold.
  *
  * Reads outside every target pass through untouched.
  */
object RealignIndels {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  /** An indel consensus: reference span [start,end) replaced by `alt`
    * (empty alt = deletion; end==start with nonempty alt = insertion). */
  case class Consensus(start: Long, end: Long, alt: String)

  // ------------------------- target discovery -----------------------------

  /** Genomic positions of MD-tag mismatches (walks the CIGAR so D advances
    * both spaces but N advances only the genome — MD excludes skips). */
  private def mismatchPositions(
      ref: String, start: Long, cigar: String,
      md: Option[String]): Iterator[(String, Long)] = {
    if (md.isEmpty) return Iterator.empty
    val offsets = graft.functions.GenomicFunctions.mdMismatchOffsets(md.get).toSet
    if (offsets.isEmpty) return Iterator.empty
    val out = Iterator.newBuilder[(String, Long)]
    var refPos = start
    var mdOff = 0L
    Cigar.parse(cigar).foreach { e =>
      e.op match {
        case 'M' | '=' | 'X' =>
          var k = 0L
          while (k < e.length) {
            if (offsets.contains(mdOff + k)) out += ((ref, refPos + k))
            k += 1
          }
          refPos += e.length; mdOff += e.length
        case 'D' => refPos += e.length; mdOff += e.length
        case 'N' => refPos += e.length
        case _ =>
      }
    }
    out.result()
  }

  /** Reference spans of indel AND mismatch evidence (the reference's
    * IndelRealignmentTarget takes both), merged within maxTargetGap.
    * Output columns: referenceName, start, end, targetId. */
  def findTargets(reads: Dataset[Alignment], maxTargetGap: Long = 100L): DataFrame = {
    import reads.sparkSession.implicits._
    // Narrow the kernel input to the 4 fields the span walk reads (guide
    // §2.3 project-before-opaque-ops / §1.2 per-task work): flatMap over
    // the full Alignment encoder deserializes all 34 fields (~30 Option
    // allocations + a map column) per row and blocks column pruning at
    // the scan; the mapped-read gate is declarative (codegen) and
    // identical to the old in-kernel check.
    val spans = reads.toDF()
      .filter(coalesce(col("readMapped"), lit(false)) &&
        col("cigar").isNotNull)
      .select(coalesce(col("referenceName"), lit("")).as("_1"),
        coalesce(col("start"), lit(0L)).as("_2"),
        col("cigar").as("_3"), col("mismatchingPositions").as("_4"))
      .as[(String, Long, String, Option[String])]
      .flatMap { case (ref, start, cigarStr, md) =>
        var refPos = start
        Cigar.parse(cigarStr).iterator.flatMap { e =>
          e.op match {
            case 'M' | '=' | 'X' => refPos += e.length; Iterator.empty
            case 'D' | 'N' =>
              val s = refPos; refPos += e.length
              if (e.op == 'D') Iterator((ref, s, refPos)) else Iterator.empty
            case 'I' =>
              Iterator((ref, refPos, refPos + 1))
            case _ => Iterator.empty
          }
        } ++ mismatchPositions(ref, start, cigarStr, md)
          .map { case (n, p) => (n, p, p + 1) }
      }.toDF("referenceName", "start", "end").distinct()

    // merge spans within gap: gaps-and-islands over a per-contig window
    val w = Window.partitionBy("referenceName").orderBy("start", "end")
    spans
      .withColumn("__maxEnd",
        max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__newGrp",
        when(col("__maxEnd").isNull ||
          col("start") > col("__maxEnd") + maxTargetGap, 1).otherwise(0))
      .withColumn("__grp", sum("__newGrp")
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("referenceName", "__grp")
      .agg(min("start").as("start"), max("end").as("end"))
      .select(col("referenceName"), col("start"), col("end"),
        concat(col("referenceName"), lit(":"), col("start")).as("targetId"))
  }

  // --------------------------- realignment --------------------------------

  private def indelOf(r: Alignment): Option[Consensus] = {
    var refPos = r.start.getOrElse(0L)
    var readPos = 0
    val seq = r.sequence.getOrElse("")
    var found: Option[Consensus] = None
    Cigar.parse(r.cigar.getOrElse("")).foreach { e =>
      e.op match {
        case 'M' | '=' | 'X' => refPos += e.length; readPos += e.length
        case 'D' =>
          if (found.isEmpty) found = Some(Consensus(refPos, refPos + e.length, ""))
          refPos += e.length
        case 'I' =>
          if (found.isEmpty && seq.length >= readPos + e.length)
            found = Some(Consensus(refPos, refPos,
              seq.substring(readPos, readPos + e.length)))
          readPos += e.length
        case 'S' => readPos += e.length
        case _ =>
      }
    }
    found
  }

  /** Quality-weighted mismatch score of `seq` placed at `offset` within
    * `hap` (lower is better; the reference's sumMismatchQuality). */
  private[graft] def mismatchScore(seq: String, quals: String, hap: String, offset: Int): Long = {
    if (offset < 0 || offset + seq.length > hap.length) return Long.MaxValue
    var s = 0L
    var i = 0
    while (i < seq.length) {
      if (Character.toUpperCase(seq.charAt(i)) !=
        Character.toUpperCase(hap.charAt(offset + i)))
        s += (if (i < quals.length) quals.charAt(i) - 33 else 30)
      i += 1
    }
    s
  }

  /** Best placement of a read in a haplotype near its original offset. */
  private[graft] def bestOffset(seq: String, quals: String, hap: String,
      around: Int, slack: Int): (Int, Long) = {
    var best = Long.MaxValue; var bi = around
    var d = -slack
    while (d <= slack) {
      val s = mismatchScore(seq, quals, hap, around + d)
      if (s < best) { best = s; bi = around + d }
      d += 1
    }
    (bi, best)
  }

  /** Consensus from a Smith-Waterman alignment of the read against the
    * reference window (ConsensusGeneratorFromSmithWaterman semantics):
    * realign the raw sequence and collapse the indel region the local
    * alignment introduces. A repeat can make SW fragment one event into
    * several small gaps tied at equal score (e.g. 1D + 3D around an ACGT
    * repeat), so the consensus spans first-indel-start .. last-indel-end
    * in reference space with the read bases consumed in between as the
    * alt — net-equivalent to the contiguous event. Only useful for reads
    * whose stored CIGAR has no indel. */
  private[algorithms] def indelFromSW(
      r: Alignment, refWindow: String, windowStart: Long): Option[Consensus] = {
    val seq = r.sequence.getOrElse("")
    if (seq.isEmpty) return None
    val a = SmithWaterman.align(seq, refWindow)
    var refPos = windowStart + a.yStart
    var readPos = a.xStart
    var firstRefStart = -1L
    var lastRefEnd = -1L
    var altStartRead = -1
    var altEndRead = -1
    Cigar.parse(a.cigarX).foreach { e =>
      e.op match {
        case 'M' | '=' | 'X' => refPos += e.length; readPos += e.length
        case 'D' =>
          if (firstRefStart < 0) { firstRefStart = refPos; altStartRead = readPos }
          refPos += e.length
          lastRefEnd = refPos; altEndRead = readPos
        case 'I' =>
          if (firstRefStart < 0) { firstRefStart = refPos; altStartRead = readPos }
          readPos += e.length
          lastRefEnd = refPos; altEndRead = readPos
        case _ =>
      }
    }
    if (firstRefStart < 0 || altEndRead > seq.length) None
    else Some(Consensus(firstRefStart, lastRefEnd,
      seq.substring(altStartRead, altEndRead)))
  }

  /** Rebuild the MD tag and NM count of a realigned read against the
    * target's reference window. GATK's IndelRealigner RECOMPUTES NM and
    * DROPS the (now stale) MD on every read it moves
    * (artificial.realigned.sam: NM updated, MD absent on read2/read4);
    * a pre-realignment MD describes an alignment that no longer exists,
    * so carrying it forward is worse than either choice. We go one
    * further and recompute BOTH from the window already in hand.
    * Returns None when the window doesn't cover the read (caller then
    * clears the stale tags instead). */
  private[algorithms] def mdNm(seq: String, newStart: Long,
      cigar: String, refWindow: String,
      windowStart: Long): Option[(String, Int)] = {
    var rpos = (newStart - windowStart).toInt
    if (rpos < 0 || seq == null || seq.isEmpty) return None
    var spos = 0
    var nm = 0
    var matchRun = 0
    val md = new StringBuilder
    Cigar.parse(cigar).foreach { e =>
      e.op match {
        case 'M' | '=' | 'X' =>
          var k = 0
          while (k < e.length) {
            if (rpos >= refWindow.length || spos >= seq.length) return None
            val rb = refWindow.charAt(rpos)
            if (Character.toUpperCase(rb) ==
              Character.toUpperCase(seq.charAt(spos))) matchRun += 1
            else {
              md.append(matchRun).append(rb)
              matchRun = 0
              nm += 1
            }
            rpos += 1; spos += 1; k += 1
          }
        case 'D' =>
          if (rpos + e.length > refWindow.length) return None
          md.append(matchRun).append('^')
            .append(refWindow.substring(rpos, rpos + e.length))
          matchRun = 0
          nm += e.length
          rpos += e.length
        case 'I' =>
          nm += e.length
          spos += e.length
        case 'S' =>
          spos += e.length
        case 'N' =>
          rpos += e.length
        case _ => return None // H/P don't appear in rebuilt cigars
      }
    }
    md.append(matchRun)
    Some((md.toString, nm))
  }

  def realignTargetGroup(
      reads: Seq[Alignment],
      target: ReferenceRegion,
      refWindow: String,
      windowStart: Long,
      lodThreshold: Double = 5.0,
      useSmithWaterman: Boolean = false,
      knownIndels: Seq[Consensus] = Nil): Seq[Alignment] = {

    // candidate consensuses: observed indels (ConsensusGeneratorFromReads),
    // known variant sites inside the window (FromKnowns), and optionally
    // SW-realigned indel-free reads (FromSmithWaterman)
    val observed = reads.flatMap(indelOf)
    val knowns = knownIndels.filter(c =>
      c.start >= windowStart && c.end <= windowStart + refWindow.length)
    val swDerived =
      if (!useSmithWaterman) Nil
      else reads.filter(r => indelOf(r).isEmpty)
        .flatMap(indelFromSW(_, refWindow, windowStart))
    val consensuses = (observed ++ knowns ++ swDerived).distinct
    if (consensuses.isEmpty) return reads

    // score all reads against the reference window as-is
    def readScore(r: Alignment, hap: String, posShift: Long): Long = {
      val off = (r.start.getOrElse(0L) - windowStart + posShift).toInt
      mismatchScore(r.sequence.getOrElse(""), r.qualityScores.getOrElse(""),
        hap, off)
    }
    // baseline = the read's ORIGINAL GAPPED alignment score (walk the
    // stored CIGAR; indels consume but never mismatch) — the reference
    // scores originals the same way (sumMismatchQuality via
    // mdTag.getReference(withGaps), RealignIndels.scala:685-693).
    // Scoring the original UNGAPPED would double-count a
    // read whose own alignment already carried the consensus indel,
    // which is exactly why we moved artificial.sam's read1/3/5 where
    // GATK (and the reference) leave them: their gapped originals TIE
    // the consensus placement at 400 and a tie is not an improvement.
    def gappedOrigScore(r: Alignment): Long = {
      val seq = r.sequence.getOrElse("")
      val quals = r.qualityScores.getOrElse("")
      val cig = r.cigar.getOrElse("")
      if (seq.isEmpty || cig.isEmpty) return readScore(r, refWindow, 0L)
      var refPos = (r.start.getOrElse(0L) - windowStart).toInt
      var readPos = 0
      var s = 0L
      Cigar.parse(cig).foreach { e =>
        e.op match {
          case 'M' | '=' | 'X' =>
            var k = 0
            while (k < e.length) {
              val rp = refPos + k; val qp = readPos + k
              if (rp < 0 || rp >= refWindow.length || qp >= seq.length)
                return readScore(r, refWindow, 0L)
              if (Character.toUpperCase(seq.charAt(qp)) !=
                Character.toUpperCase(refWindow.charAt(rp)))
                s += (if (qp < quals.length) quals.charAt(qp) - 33 else 30)
              k += 1
            }
            refPos += e.length; readPos += e.length
          case 'D' | 'N' => refPos += e.length
          case 'I' | 'S' => readPos += e.length
          case _ =>
        }
      }
      s
    }
    val origScores = reads.map(gappedOrigScore)
    val origTotal = origScores.filter(_ != Long.MaxValue).sum

    // try each consensus haplotype
    val scored = consensuses.map { c =>
      val cs = (c.start - windowStart).toInt
      val ce = (c.end - windowStart).toInt
      if (cs < 0 || ce > refWindow.length || cs > ce) (c, Long.MaxValue, Map.empty[Int, (Int, Long)])
      else {
        val hap = refWindow.substring(0, cs) + c.alt + refWindow.substring(ce)
        // keyed by index in `reads`, NOT readName: both mates of a fragment
        // (and primary+supplementary alignments) share a name but need
        // independent placements (reference keys per-read too).
        val placements = reads.indices.map { i =>
          val r = reads(i)
          val orig = (r.start.getOrElse(0L) - windowStart).toInt
          val (off, sc) = bestOffset(r.sequence.getOrElse(""),
            r.qualityScores.getOrElse(""), hap, orig,
            slack = math.max(8, c.alt.length + (ce - cs)))
          i -> (off, sc)
        }.toMap
        val total = placements.values.map(_._2).filter(_ != Long.MaxValue).sum
        (c, total, placements)
      }
    }

    val (bestC, bestTotal, placements) = scored.minBy(_._2)
    // LOD in phred-space: improvement in summed mismatch quality / 10
    if (bestTotal == Long.MaxValue ||
      (origTotal - bestTotal) / 10.0 <= lodThreshold) return reads

    val cs = bestC.start
    val ce = bestC.end
    val altLen = bestC.alt.length
    val refLen = ce - cs
    reads.indices.map { idx =>
      val r = reads(idx)
      placements.get(idx) match {
        case Some((off, sc)) if sc != Long.MaxValue &&
          sc < origScores(idx) =>
          val hapStart = windowStart + off // position in haplotype coords
          val readLen = r.sequence.map(_.length).getOrElse(0)
          // rebuild start/cigar in reference coords around the consensus
          val newStart =
            if (hapStart + readLen <= cs || altLen == refLen) hapStart
            else if (hapStart >= cs + altLen) hapStart - altLen + refLen
            else hapStart
          val readEndHap = hapStart + readLen
          // replacement consensus (altLen, refLen both > 0) = match the
          // alt bases then the net indel: (before+alt)M (ref-alt)D after M
          // or (before+ref)M (alt-ref)I after M; pure ins/del are the
          // degenerate cases
          val newCigar =
            if (readEndHap <= cs || hapStart >= cs + altLen) s"${readLen}M"
            else {
              val before = (cs - hapStart).toInt
              val after = (readLen - before - altLen).toInt
              if (before <= 0 || after < 0) s"${readLen}M"
              else if (refLen == altLen) s"${readLen}M"
              else if (refLen > altLen) {
                val d = refLen - altLen
                // a read ending exactly at the alt boundary must not carry a
                // trailing D (invalid SAM; would inflate `end` by d)
                if (after > 0) s"${before + altLen}M${d}D${after}M"
                else s"${before + altLen}M"
              } else {
                val ins = altLen - refLen
                // trailing insertion -> soft-clip the inserted bases instead
                // of emitting a CIGAR that ends in I
                if (after > 0) s"${before + refLen}M${ins}I${after}M"
                else s"${before + refLen}M${ins}S"
              }
            }
          // the moved alignment invalidates the carried MD/NM — rebuild
          // both against the window (GATK recomputes NM, drops MD)
          val rebuilt = mdNm(r.sequence.getOrElse(""), newStart,
            newCigar, refWindow, windowStart)
          // MD is only re-emitted when the read already carried one
          // (GATK drops MD it didn't have); keep the model field in
          // lockstep with the attribute map so a SAM/BAM write/read
          // round-trip (which persists tags from attributes only)
          // reproduces mismatchingPositions exactly.
          val emitMd = r.attributes.contains("MD")
          val newAttrs = rebuilt match {
            case Some((md, nm)) =>
              val base = r.attributes + ("NM" -> s"i:$nm")
              if (emitMd) base + ("MD" -> s"Z:$md") else base
            case None => r.attributes - "NM" - "MD"
          }
          r.copy(
            start = Some(newStart),
            originalStart = r.start,
            end = Some(newStart + Cigar.referenceLength(newCigar)),
            cigar = Some(newCigar),
            originalCigar = r.cigar,
            mismatchingPositions =
              if (emitMd) rebuilt.map(_._1) else None,
            attributes = newAttrs,
            // realigned reads get +10 mapping quality (reference
            // RealignIndels.scala:389, matching GATK IndelRealigner's
            // bump in artificial.realigned.sam)
            mappingQuality = r.mappingQuality.map(_ + 10))
        case _ => r
      }
    }
  }

  /** Full distributed pipeline. `pad` widens the reference window around
    * each target. */
  def apply(
      reads: Dataset[Alignment],
      reference: ReferenceSource,
      maxTargetGap: Long = 100L,
      pad: Long = 150L,
      lodThreshold: Double = 5.0,
      useSmithWaterman: Boolean = false,
      knownIndels: Seq[(String, Consensus)] = Nil): Dataset[Alignment] = {
    val spark = reads.sparkSession
    import spark.implicits._
    val refB = spark.sparkContext.broadcast(reference)
    val knownsB = spark.sparkContext.broadcast(
      knownIndels.groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) })
    val useSW = useSmithWaterman

    val targets = findTargets(reads, maxTargetGap)
      .select(col("referenceName").as("t_ref"), col("start").as("t_start"),
        col("end").as("t_end"), col("targetId"))

    // assign each read to the first target it overlaps (padded), via a
    // binned-join-shaped equi+theta join; reads with no target -> null id.
    // __rid is a true per-read identity: (readName,start) is NOT unique
    // (both-unmapped mate pairs, fully-overlapping pairs, secondaries), and
    // deduping on it would silently drop reads from the output.
    val readsDf = reads.toDF().withColumn("__rid", monotonically_increasing_id())
    val tagged = readsDf
      .join(targets,
        col("referenceName") === col("t_ref") &&
          col("start") < col("t_end") + pad && col("t_start") - pad < col("end"),
        "left_outer")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__rid").orderBy(col("t_start").asc_nulls_last)))
      .filter(col("__rn") === 1)

    val lod = lodThreshold
    val padV = pad
    val result = tagged
      .withColumn("__tid", coalesce(col("targetId"), lit("")))
      .groupByKey(row => row.getAs[String]("__tid"))
      .flatMapGroups { (tid: String, rows: Iterator[org.apache.spark.sql.Row]) =>
        val rowSeq = rows.toSeq
        def toAlignment(row: org.apache.spark.sql.Row): Alignment =
          rowToAlignment(row)
        val aligns = rowSeq.map(toAlignment)
        if (tid.isEmpty) aligns.iterator
        else {
          val tStart = rowSeq.head.getAs[Long]("t_start")
          val tEnd = rowSeq.head.getAs[Long]("t_end")
          val tRef = rowSeq.head.getAs[String]("t_ref")
          val winStart = math.max(0L, tStart - padV)
          val window = refB.value.extract(
            ReferenceRegion(tRef, winStart, tEnd + padV))
          realignTargetGroup(aligns, ReferenceRegion(tRef, tStart, tEnd),
            window, winStart, lod, useSW,
            knownsB.value.getOrElse(tRef, Nil)).iterator
        }
      }
    result
  }

  /** Row → Alignment for the joined shape (only Alignment columns read). */
  private def rowToAlignment(row: org.apache.spark.sql.Row): Alignment = {
    def optAt[T](name: String): Option[T] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.getAs[T](i))
    }
    Alignment(
      referenceName = optAt[String]("referenceName"),
      start = optAt[Long]("start"),
      end = optAt[Long]("end"),
      originalStart = optAt[Long]("originalStart"),
      readName = optAt[String]("readName"),
      sequence = optAt[String]("sequence"),
      qualityScores = optAt[String]("qualityScores"),
      cigar = optAt[String]("cigar"),
      originalCigar = optAt[String]("originalCigar"),
      basesTrimmedFromStart = optAt[Int]("basesTrimmedFromStart"),
      basesTrimmedFromEnd = optAt[Int]("basesTrimmedFromEnd"),
      mappingQuality = optAt[Int]("mappingQuality"),
      readPaired = optAt[Boolean]("readPaired"),
      properPair = optAt[Boolean]("properPair"),
      readMapped = optAt[Boolean]("readMapped"),
      mateMapped = optAt[Boolean]("mateMapped"),
      readInFragment = optAt[Int]("readInFragment"),
      failedVendorQualityChecks = optAt[Boolean]("failedVendorQualityChecks"),
      duplicateRead = optAt[Boolean]("duplicateRead"),
      readNegativeStrand = optAt[Boolean]("readNegativeStrand"),
      mateNegativeStrand = optAt[Boolean]("mateNegativeStrand"),
      primaryAlignment = optAt[Boolean]("primaryAlignment"),
      secondaryAlignment = optAt[Boolean]("secondaryAlignment"),
      supplementaryAlignment = optAt[Boolean]("supplementaryAlignment"),
      mismatchingPositions = optAt[String]("mismatchingPositions"),
      mateReferenceName = optAt[String]("mateReferenceName"),
      mateAlignmentStart = optAt[Long]("mateAlignmentStart"),
      insertSize = optAt[Long]("insertSize"),
      readGroupId = optAt[String]("readGroupId"),
      readGroupSampleId = optAt[String]("readGroupSampleId"),
      attributes = Option(row.getAs[Map[String, String]]("attributes"))
        .getOrElse(Map.empty))
  }
}
