package graft.sources

import graft.model._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** A ScalaCheck generator over whole `Alignment`s that a SAM-family record
  * can hold: mapped and unmapped reads, paired and unpaired, mates mapped
  * or not and on either contig, first/second of pair, secondary,
  * supplementary, duplicate and vendor-failed reads, clipped and gapped
  * CIGARs, a missing read name, missing or mis-sized qualities, and tags of
  * every SAM type and BAM array subtype. Unpaired reads carry arbitrary
  * mate flags, which no SAM-family format stores; [[stored]] says what the
  * codecs read back. Every record carries its index as tag `ix`. */
object AlignmentGen {

  val meta: GenomicMetadata = GenomicMetadata(
    sequences = SequenceDictionary(Seq(
      SequenceRecord("chr1", 10000, index = Some(0)),
      SequenceRecord("chr2", 5000, index = Some(1)))),
    readGroups = ReadGroupDictionary(Seq(
      ReadGroup(sampleId = "s1", id = "rg1", library = Some("lib1")))))

  private val contig = Gen.oneOf("chr1", "chr2")
  private def some[A](g: Gen[A]): Gen[Option[A]] = Gen.oneOf(Gen.const(None), g.map(Some(_)))
  private val bool = Gen.oneOf(true, false)

  /** Clips around 1-4 match runs (M, = or X) joined by I, D or N. */
  private val cigar: Gen[String] = for {
    hard <- Gen.listOfN(2, Gen.oneOf(0, 0, 3))
    soft <- Gen.listOfN(2, Gen.oneOf(0, 0, 4))
    n <- Gen.choose(1, 4)
    runs <- Gen.listOfN(n, Gen.zip(Gen.oneOf('M', 'M', '=', 'X'), Gen.choose(1, 20)))
    gaps <- Gen.listOfN(n - 1, Gen.zip(Gen.oneOf('I', 'D', 'N'), Gen.choose(1, 5)))
  } yield {
    val core = runs.head +: gaps.zip(runs.tail).flatMap { case (g, m) => Seq(g, m) }
    val ops = Seq('H' -> hard(0), 'S' -> soft(0)) ++ core ++ Seq('S' -> soft(1), 'H' -> hard(1))
    ops.filter(_._2 > 0).map { case (op, len) => s"$len$op" }.mkString
  }

  private def array(key: String, sub: Char, elem: Gen[String]): Gen[(String, String)] =
    Gen.listOf(elem).map(es => key -> (s"B:$sub" +: es.take(6)).mkString(","))

  private def float: Gen[String] = Gen.choose(-1e6f, 1e6f).map(_.toString)

  /** One optional tag per BAM type: integers as SAM `i` (an `I`-sized
    * value reads back unsigned), floats in Java's shortest text. */
  private val tags: Gen[Map[String, String]] = Gen.sequence[List[Option[(String, String)]],
    Option[(String, String)]](List(
    Gen.alphaNumChar.map(c => "XA" -> s"A:$c"),
    Gen.choose(-128, 255).map(v => "XS" -> s"i:$v"),
    Gen.choose(Int.MinValue, Int.MaxValue).map(v => "XJ" -> s"i:$v"),
    Gen.choose(1L << 31, 0xffffffffL).map(v => "XU" -> s"i:$v"),
    float.map(v => "XF" -> s"f:$v"),
    Gen.listOf(Gen.choose(' ', '~')).map(s => "XZ" -> s"Z:${s.mkString}"),
    Gen.listOf(Gen.choose(0, 255)).map(bs => "XH" -> bs.map(b => f"$b%02X").mkString("H:", "", "")),
    array("Bc", 'c', Gen.choose(-128, 127).map(_.toString)),
    array("BC", 'C', Gen.choose(0, 255).map(_.toString)),
    array("Bs", 's', Gen.choose(-32768, 32767).map(_.toString)),
    array("BS", 'S', Gen.choose(0, 65535).map(_.toString)),
    array("Bi", 'i', Gen.choose(Int.MinValue, Int.MaxValue).map(_.toString)),
    array("BI", 'I', Gen.choose(0L, 0xffffffffL).map(_.toString)),
    array("Bf", 'f', float)).map(some)).map(_.flatten.toMap)

  val alignment: Gen[Alignment] = for {
    mapped <- Gen.frequency(9 -> true, 1 -> false)
    ref <- contig
    start <- Gen.choose(0L, 4000L)
    c <- cigar
    paired <- bool
    mateRef <- some(contig)
    mateStart <- some(Gen.choose(0L, 4000L))
    tlen <- some(Gen.oneOf(Gen.choose(-500L, -1L), Gen.choose(1L, 500L)))
    flags <- Gen.listOfN(8, bool)
    readInFragment <- Gen.oneOf(0, 1)
    mapq <- some(Gen.choose(0, 254))
    named <- Gen.frequency(9 -> true, 1 -> false)
    baseCount <- Gen.const(if (mapped) Cigar.readLength(c).toInt else 12)
    bases <- Gen.listOfN(baseCount, Gen.oneOf('A', 'C', 'G', 'T', 'N')).map(_.mkString)
    hasBases <- Gen.frequency(19 -> true, 1 -> false)
    quals <- Gen.frequency(
      8 -> Gen.listOfN(baseCount, Gen.choose('!', 'J')).map(q => Some(q.mkString)),
      1 -> Gen.const(None),
      1 -> Gen.const(Some("II")))
    rg <- bool
    md <- some(Gen.choose(0, 99).map(n => s"${n}A0"))
    attrs <- tags
  } yield {
    val Seq(properPair, mateMapped, reverse, mateReverse, secondary, supplementary,
      duplicate, qcFail) = flags
    val attributes = attrs ++
      (if (rg) Map("RG" -> "Z:rg1") else Map.empty) ++ md.map(m => "MD" -> s"Z:$m")
    Alignment(
      readName = if (named) Some("read") else None,
      referenceName = if (mapped) Some(ref) else None,
      start = if (mapped) Some(start) else None,
      end = if (mapped) Some(start + Cigar.referenceLength(c)) else None,
      cigar = if (mapped) Some(c) else None,
      mappingQuality = if (mapped) mapq else None,
      sequence = if (hasBases) Some(bases) else None,
      qualityScores = if (hasBases) quals else None,
      readPaired = Some(paired), properPair = Some(properPair),
      readMapped = Some(mapped), mateMapped = Some(mateMapped),
      readNegativeStrand = Some(reverse), mateNegativeStrand = Some(mateReverse),
      readInFragment = Some(readInFragment),
      secondaryAlignment = Some(secondary), supplementaryAlignment = Some(supplementary),
      primaryAlignment = Some(!secondary && !supplementary),
      failedVendorQualityChecks = Some(qcFail), duplicateRead = Some(duplicate),
      mateReferenceName = mateRef, mateAlignmentStart = mateStart, insertSize = tlen,
      readGroupId = if (rg) Some("rg1") else None,
      mismatchingPositions = md,
      attributes = attributes)
  }

  /** `n` records from a fixed seed, each named `r<index>` (unless its name
    * is missing) and tagged `ix:i:<index>`. */
  def batch(n: Int, seed: Long): Seq[Alignment] =
    Gen.listOfN(n, alignment).pureApply(Gen.Parameters.default, Seed(seed))
      .zipWithIndex.map { case (r, i) =>
        r.copy(readName = r.readName.map(_ => s"r$i"),
          attributes = r.attributes + ("ix" -> s"i:$i"))
      }

  def index(r: Alignment): Int = r.attributes("ix").drop(2).toInt

  /** What a SAM-family codec reads back for `r` (SamIO's mapping rules):
    * mate flags of an unpaired read do not count, a quality survives only
    * when it is as long as the sequence, an empty sequence is missing. */
  def stored(r: Alignment): Alignment = {
    val paired = r.readPaired.contains(true)
    r.copy(
      properPair = Some(paired && r.properPair.contains(true)),
      mateMapped = Some(paired && r.mateMapped.contains(true)),
      mateNegativeStrand = Some(paired && r.mateNegativeStrand.contains(true)),
      readInFragment = Some(if (paired) r.readInFragment.getOrElse(0) else 0),
      sequence = r.sequence.filter(_.nonEmpty),
      qualityScores = r.qualityScores
        .filter(q => q.nonEmpty && r.sequence.exists(_.length == q.length)))
  }
}
