package graft.sources

import graft.SparkSpec
import graft.core.GenomicDataset
import graft.model._
import org.apache.spark.sql.Encoders

class CramIOSpec extends SparkSpec {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  private val meta = GenomicMetadata(
    sequences = SequenceDictionary(Seq(
      SequenceRecord("chr1", 10000, index = Some(0)),
      SequenceRecord("chr2", 5000, index = Some(1)))),
    readGroups = ReadGroupDictionary(Seq(
      ReadGroup(sampleId = "s1", id = "rg1", library = Some("lib1")))))

  test("itf8 / ltf8 round trips incl. negatives") {
    val bos = new java.io.ByteArrayOutputStream()
    val vals = Seq(0, 1, 127, 128, 300, 1 << 14, (1 << 21) + 5, (1 << 28) + 9,
      Int.MaxValue, -1, -2)
    vals.foreach(CramIO.writeItf8(bos, _))
    val in = new java.io.ByteArrayInputStream(bos.toByteArray)
    vals.foreach(v => assert(CramIO.readItf8(in) == v, s"itf8 $v"))
    val bos2 = new java.io.ByteArrayOutputStream()
    val lvals = Seq(0L, 5L, 1L << 40, Long.MaxValue, -1L)
    lvals.foreach(CramIO.writeLtf8(bos2, _))
    val in2 = new java.io.ByteArrayInputStream(bos2.toByteArray)
    lvals.foreach(v => assert(CramIO.readLtf8(in2) == v, s"ltf8 $v"))
  }

  private def rec(
      name: String, ref: Option[String], start: Option[Long],
      cigar: Option[String], seq: String, quals: String,
      attrs: Map[String, String] = Map.empty,
      paired: Boolean = false, neg: Boolean = false): Alignment =
    Alignment(
      readName = Some(name), referenceName = ref, start = start,
      end = for (s <- start; c <- cigar) yield s + Cigar.referenceLength(c),
      cigar = cigar, sequence = Some(seq), qualityScores = Some(quals),
      mappingQuality = if (ref.isDefined) Some(37) else None,
      readMapped = Some(ref.isDefined), readPaired = Some(paired),
      readNegativeStrand = Some(neg), mateNegativeStrand = Some(false),
      mateMapped = Some(paired),
      mateReferenceName = if (paired) ref else None,
      mateAlignmentStart = if (paired) start.map(_ + 100) else None,
      insertSize = if (paired) Some(136L) else None,
      readInFragment = Some(0), primaryAlignment = Some(true),
      secondaryAlignment = Some(false), supplementaryAlignment = Some(false),
      duplicateRead = Some(false), failedVendorQualityChecks = Some(false),
      readGroupId = Some("rg1"), attributes = attrs)

  private def key(a: Alignment) =
    (a.readName, a.referenceName, a.start, a.end, a.cigar, a.sequence,
      a.qualityScores, a.mappingQuality, a.readMapped, a.readPaired,
      a.readNegativeStrand, a.duplicateRead, a.readGroupId,
      a.mateReferenceName, a.mateAlignmentStart, a.insertSize, a.attributes)

  test("CRAM round trip: cigars, clips, indels, tags, unmapped") {
    val reads = Seq(
      rec("r1", Some("chr1"), Some(100L), Some("36M"),
        "ACGTACGTACGTACGTACGTACGTACGTACGTACGT", "I" * 36,
        attrs = Map("NM" -> "i:0", "RG" -> "Z:rg1")),
      rec("r2", Some("chr1"), Some(200L), Some("5S26M5S"),
        "ACGTACGTACGTACGTACGTACGTACGTACGTACGT", "F" * 36,
        attrs = Map("MD" -> "Z:26", "XS" -> "A:+", "XF" -> "f:1.5")),
      rec("r3", Some("chr2"), Some(300L), Some("10M4D10M2I14M"),
        "ACGTACGTACGTACGTACGTACGTACGTACGTACGT", "5" * 36, paired = true),
      rec("r4", Some("chr2"), Some(400L), Some("8M100N28M"),
        "ACGTACGTACGTACGTACGTACGTACGTACGTACGT", "#" * 36, neg = true),
      rec("u1", None, None, None, "GGGGCCCC", "IIIIIIII"))
    val path = tmpDir() + "/t.cram"
    CramIO.write(GenomicDataset(spark.createDataset(reads), meta), path)
    val back = CramIO.read(spark, path)
    assert(back.meta.sequences.records.map(_.name) == Seq("chr1", "chr2"))
    val got = back.ds.collect()
    assert(got.length == reads.length)
    assert(got.map(key).toSet == reads.map(key).toSet)
  }

  test("CRAM multi-container files parallelize per container") {
    val rnd = new scala.util.Random(31)
    val bases = "ACGT"
    val many = (0 until 5000).map { i =>
      rec(s"m$i", Some("chr1"), Some((i % 9000).toLong), Some("20M"),
        Array.fill(20)(bases(rnd.nextInt(4))).mkString, "I" * 20)
    }
    val path = tmpDir() + "/many.cram"
    CramIO.write(GenomicDataset(spark.createDataset(many), meta), path,
      recordsPerContainer = 512)
    val back = CramIO.read(spark, path)
    val got = back.ds.collect()
    assert(got.length == 5000)
    assert(got.map(_.readName.get).sorted.sameElements(
      many.map(_.readName.get).sorted))
    // several containers -> several partitions
    assert(back.ds.rdd.getNumPartitions >= 5)
  }

  test("crai-indexed region query decodes only overlapping containers") {
    val rnd = new scala.util.Random(37)
    val bases = "ACGT"
    // coordinate-sorted so containers have tight spans
    val many = (0 until 6000).map { i =>
      val s = (i.toLong * 3) % 9000
      (s, rec(s"i$i", Some("chr1"), Some(s), Some("20M"),
        Array.fill(20)(bases(rnd.nextInt(4))).mkString, "I" * 20))
    }.sortBy(_._1).map(_._2)
    val path = tmpDir() + "/idx.cram"
    CramIO.writeIndexed(GenomicDataset(spark.createDataset(many), meta), path,
      recordsPerContainer = 500)
    assert(new java.io.File(path + ".crai").exists())

    val regions = Seq(ReferenceRegion("chr1", 4000L, 4200L))
    val got = CramIO.readIndexed(spark, path, regions)
    val gotNames = got.ds.collect().map(_.readName.get).sorted
    val expected = many.filter(r => regions.exists(rr =>
        r.start.exists(_ < rr.end) && r.end.exists(_ > rr.start)))
      .map(_.readName.get).sorted
    assert(expected.nonEmpty)
    assert(gotNames.sameElements(expected))
    // pruning: far fewer containers decoded than exist (12 total)
    assert(got.ds.rdd.getNumPartitions < 6,
      s"expected pruned containers, got ${got.ds.rdd.getNumPartitions}")
  }

  test("CRAM fuzz: random cigars, hard clips, padding, empty quals survive") {
    val rnd = new scala.util.Random(47)
    val bases = "ACGT"
    def randomRead(i: Int): Alignment = {
      // random cigar over read-consuming and ref-consuming ops
      val ops = Seq.newBuilder[(Char, Int)]
      if (rnd.nextBoolean()) ops += (('H', 1 + rnd.nextInt(5)))
      if (rnd.nextBoolean()) ops += (('S', 1 + rnd.nextInt(8)))
      // aligned block: plain M, or the explicit '='/'X' match/mismatch ops
      rnd.nextInt(3) match {
        case 0 => ops += (('M', 10 + rnd.nextInt(30)))
        case 1 =>
          ops += (('=', 6 + rnd.nextInt(10)))
          ops += (('X', 1 + rnd.nextInt(3)))
          ops += (('=', 4 + rnd.nextInt(8)))
        case _ =>
          ops += (('M', 5 + rnd.nextInt(10)))
          ops += (('X', 1 + rnd.nextInt(2)))
          ops += (('=', 5 + rnd.nextInt(5)))
      }
      rnd.nextInt(3) match {
        case 0 => ops += (('D', 1 + rnd.nextInt(6))); ops += (('M', 5 + rnd.nextInt(10)))
        case 1 => ops += (('I', 1 + rnd.nextInt(6))); ops += (('M', 5 + rnd.nextInt(10)))
        case _ => ops += (('N', 20 + rnd.nextInt(50))); ops += (('M', 5 + rnd.nextInt(10)))
      }
      if (rnd.nextBoolean()) ops += (('P', 1 + rnd.nextInt(3)))
      if (rnd.nextBoolean()) ops += (('S', 1 + rnd.nextInt(8)))
      val cig = ops.result()
      val readLen = cig.collect { case (op, l) if "MIS=X".contains(op) => l }.sum
      val refLen = cig.collect { case (op, l) if "MDN=X".contains(op) => l }.sum
      val cigar = cig.map { case (op, l) => s"$l$op" }.mkString
      Alignment(readName = Some(s"f$i"), referenceName = Some("chr1"),
        start = Some(i * 200L), end = Some(i * 200L + refLen),
        cigar = Some(cigar),
        sequence = Some(Array.fill(readLen)(bases(rnd.nextInt(4))).mkString),
        qualityScores = Some(Array.fill(readLen)((33 + rnd.nextInt(60)).toChar).mkString),
        mappingQuality = Some(rnd.nextInt(61)),
        readMapped = Some(true), readPaired = Some(rnd.nextBoolean()),
        readNegativeStrand = Some(rnd.nextBoolean()),
        mateNegativeStrand = Some(false),
        primaryAlignment = Some(true), secondaryAlignment = Some(false),
        supplementaryAlignment = Some(false),
        duplicateRead = Some(rnd.nextBoolean()),
        failedVendorQualityChecks = Some(false), mateMapped = Some(false),
        attributes = Map("XI" -> s"i:$i"))
    }
    val reads = (0 until 300).map(randomRead)
    val path = tmpDir() + "/fuzz.cram"
    CramIO.write(GenomicDataset(spark.createDataset(reads), meta), path)
    val back = CramIO.read(spark, path).ds.collect()
      .map(r => r.readName.get -> r).toMap
    assert(back.size == 300)
    reads.foreach { r =>
      val b = back(r.readName.get)
      assert(b.cigar == r.cigar, s"${r.readName}: ${b.cigar} vs ${r.cigar}")
      assert(b.sequence == r.sequence)
      assert(b.qualityScores == r.qualityScores)
      assert(b.start == r.start && b.end == r.end)
      assert(b.attributes.get("XI") == r.attributes.get("XI"))
    }
  }

  test("core-profile CRAM (BETA/HUFFMAN bit encodings) round trips") {
    val rnd = new scala.util.Random(59)
    val bases = "ACGT"
    val reads = (0 until 400).map { i =>
      val cigar = rnd.nextInt(3) match {
        case 0 => "30M"
        case 1 => "5S20M2D5M"
        case _ => "10M3I17M"
      }
      val readLen = Cigar.parse(cigar).collect {
        case e if "MIS=X".contains(e.op) => e.length.toInt }.sum
      rec(s"c$i", Some("chr1"), Some(i * 50L), Some(cigar),
        Array.fill(readLen)(bases(rnd.nextInt(4))).mkString,
        Array.fill(readLen)((33 + rnd.nextInt(40)).toChar).mkString,
        attrs = if (i % 2 == 0) Map("XC" -> s"i:$i") else Map.empty)
    } :+ rec("u", None, None, None, "ACGT", "IIII")
    val path = tmpDir() + "/core.cram"
    CramIO.write(GenomicDataset(spark.createDataset(reads), meta), path,
      coreProfile = true)
    val back = CramIO.read(spark, path).ds.collect()
      .map(r => r.readName.get -> r).toMap
    assert(back.size == reads.length)
    reads.foreach { r =>
      val b = back(r.readName.get)
      assert(b.cigar == r.cigar, s"${r.readName}: ${b.cigar} vs ${r.cigar}")
      assert(b.sequence == r.sequence)
      assert(b.qualityScores == r.qualityScores)
      assert(b.mappingQuality == r.mappingQuality)
      assert(b.attributes.get("XC") == r.attributes.get("XC"))
    }
  }

  test("core integer codecs round trip (gamma, subexp, golomb, rice)") {
    val rnd = new scala.util.Random(61)
    val gammaVals = (0 until 500).map(_ => 1 + rnd.nextInt(1 << 20))
    assert(CramIO.codecRoundTrip("gamma", gammaVals, 0) == gammaVals)
    val nonneg = (0 until 500).map(_ => rnd.nextInt(1 << 20))
    for (k <- Seq(0, 1, 2, 5, 10))
      assert(CramIO.codecRoundTrip("subexp", nonneg, k) == nonneg,
        s"subexp k=$k")
    for (m <- Seq(1, 2, 3, 5, 8, 100, 1000))
      assert(CramIO.codecRoundTrip("golomb", nonneg.map(_ % 5000), m) ==
        nonneg.map(_ % 5000), s"golomb m=$m")
    for (lg <- Seq(0, 1, 3, 8))
      assert(CramIO.codecRoundTrip("rice", nonneg.map(_ % 5000), lg) ==
        nonneg.map(_ % 5000), s"rice log2m=$lg")
    // boundary values
    val edges = Seq(0, 1, 2, 3, 4, 7, 8, 15, 16, 255, 256, 65535, 65536)
    assert(CramIO.codecRoundTrip("gamma", edges.map(_ + 1), 0) == edges.map(_ + 1))
    assert(CramIO.codecRoundTrip("subexp", edges, 2) == edges)
    assert(CramIO.codecRoundTrip("golomb", edges, 7) == edges)
    assert(CramIO.codecRoundTrip("rice", edges, 4) == edges)
  }

  private def roundTripWith(profile: CramIO.WriteProfile,
      reads: Seq[Alignment], readRef: Option[graft.core.ReferenceSource] = None,
      recordsPerContainer: Int = 10000): Map[String, Alignment] = {
    val path = tmpDir() + s"/p${profile.hashCode}.cram"
    CramIO.write(GenomicDataset(spark.createDataset(reads), meta), path,
      recordsPerContainer = recordsPerContainer, profile = Some(profile))
    val back = readRef match {
      case Some(r) => CramIO.read(spark, path, r)
      case None => CramIO.read(spark, path)
    }
    back.ds.collect().map(r => r.readName.get -> r).toMap
  }

  private def mixedReads(n: Int, seed: Int): Seq[Alignment] = {
    val rnd = new scala.util.Random(seed)
    val bases = "ACGT"
    (0 until n).map { i =>
      val cigar = rnd.nextInt(7) match {
        case 0 => "30M"
        case 1 => "5S20M2D5M"
        case 2 => "10M3I17M"
        case 3 => "3H10M40N10M"
        case 4 => "10=2X18="          // explicit match/mismatch ops
        case 5 => "4S6=1X9M2D5=2X4S"  // mixed M/=/X with clips
        case _ => "8M1D8M2P8M4S"
      }
      val readLen = Cigar.parse(cigar).collect {
        case e if "MIS=X".contains(e.op) => e.length.toInt }.sum
      rec(s"x$i", Some("chr1"), Some(i * 50L), Some(cigar),
        Array.fill(readLen)(bases(rnd.nextInt(4))).mkString,
        Array.fill(readLen)((33 + rnd.nextInt(40)).toChar).mkString,
        attrs = if (i % 3 == 0) Map("XC" -> s"i:$i") else Map.empty)
    }
  }

  private def assertSame(got: Map[String, Alignment], want: Seq[Alignment]): Unit = {
    assert(got.size == want.length)
    want.foreach { r =>
      val b = got(r.readName.get)
      assert(b.cigar == r.cigar, s"${r.readName}: ${b.cigar} vs ${r.cigar}")
      assert(b.sequence == r.sequence, s"${r.readName} seq")
      assert(b.qualityScores == r.qualityScores, s"${r.readName} quals")
      assert(b.start == r.start && b.end == r.end, s"${r.readName} pos")
      assert(b.attributes == r.attributes,
        s"${r.readName}: ${b.attributes} vs ${r.attributes}")
    }
  }

  test("multi-slice containers round trip (container record count verified)") {
    val reads = mixedReads(450, 67)
    val got = roundTripWith(CramIO.WriteProfile(recordsPerSlice = 100), reads)
    assertSame(got, reads)
  }

  test("CRAM 3.1 profile round trips (rANS Nx16 quality blocks)") {
    val reads = mixedReads(500, 73)
    val got = roundTripWith(CramIO.WriteProfile(version31 = true), reads)
    assertSame(got, reads)
    // the file really is version 3.1 on disk
    val path = tmpDir() + "/v31.cram"
    CramIO.write(GenomicDataset(spark.createDataset(reads), meta), path,
      profile = Some(CramIO.WriteProfile(version31 = true)))
    val in = new java.io.FileInputStream(path)
    val magic = new Array[Byte](6)
    assert(in.read(magic) == 6); in.close()
    assert(magic.toSeq == Seq[Byte]('C', 'R', 'A', 'M', 3, 1))
  }

  test("CRAM 3.1 with multi-slice + tags profile round trips") {
    val reads = mixedReads(300, 79)
    val got = roundTripWith(
      CramIO.WriteProfile(version31 = true, recordsPerSlice = 64), reads)
    assertSame(got, reads)
  }

  test("CRAM 3.1 all-new-codecs profile round trips (fqz quals + arith blocks + tok names)") {
    val reads = mixedReads(400, 83)
    val got = roundTripWith(
      CramIO.WriteProfile(version31 = true, fqzQuals = true,
        arithBlocks = true), reads)
    assertSame(got, reads)
  }

  test("extra core codecs profile (GAMMA/SUBEXP/GOLOMB/RICE) round trips") {
    val reads = mixedReads(400, 71)
    val got = roundTripWith(CramIO.WriteProfile(extraCodecs = true), reads)
    assertSame(got, reads)
  }

  test("BYTE_ARRAY_LEN encodings (external + core lengths) round trip") {
    val reads = mixedReads(400, 73)
    val got = roundTripWith(CramIO.WriteProfile(byteArrayLen = true), reads)
    assertSame(got, reads)
  }

  test("AP-delta coded positions round trip (sorted and with unmapped)") {
    val sorted = mixedReads(300, 79).sortBy(_.start)
    val withUnmapped = sorted :+ rec("u9", None, None, None, "ACGT", "IIII")
    val got = roundTripWith(CramIO.WriteProfile(apDelta = true), withUnmapped)
    assertSame(got, withUnmapped)
  }

  test("everything-at-once profile round trips") {
    val reads = mixedReads(500, 83)
    val got = roundTripWith(CramIO.WriteProfile(core = true,
      extraCodecs = true, byteArrayLen = true, apDelta = true,
      recordsPerSlice = 128), reads.sortBy(_.start),
      recordsPerContainer = 256)
    assertSame(got, reads)
  }

  test("attached (NF-linked) mate pairs reconstruct mate info") {
    def mate(name: String, s: Long, mateS: Long, tlen: Long,
        neg: Boolean, mateNeg: Boolean, frag: Int): Alignment =
      Alignment(readName = Some(name), referenceName = Some("chr1"),
        start = Some(s), end = Some(s + 36), cigar = Some("36M"),
        sequence = Some("ACGTACGTACGTACGTACGTACGTACGTACGTACGT"),
        qualityScores = Some("I" * 36), mappingQuality = Some(37),
        readMapped = Some(true), readPaired = Some(true),
        properPair = Some(false),
        readNegativeStrand = Some(neg), mateNegativeStrand = Some(mateNeg),
        mateMapped = Some(true), mateReferenceName = Some("chr1"),
        mateAlignmentStart = Some(mateS), insertSize = Some(tlen),
        readInFragment = Some(frag), primaryAlignment = Some(true),
        secondaryAlignment = Some(false), supplementaryAlignment = Some(false),
        duplicateRead = Some(false), failedVendorQualityChecks = Some(false),
        readGroupId = Some("rg1"))
    val pairs = (0 until 50).flatMap { i =>
      val s1 = 100L + i * 500
      val s2 = s1 + 200
      Seq(
        mate(s"p$i", s1, s2, 236L, neg = false, mateNeg = true, frag = 0),
        mate(s"p$i", s2, s1, -236L, neg = true, mateNeg = false, frag = 1))
    }
    // singletons interleaved to exercise NF distances > 0
    val singles = (0 until 20).map(i =>
      rec(s"s$i", Some("chr1"), Some(50L + i * 700), Some("36M"),
        "ACGTACGTACGTACGTACGTACGTACGTACGTACGT", "F" * 36))
    val reads = (pairs ++ singles).sortBy(_.start)
    val path = tmpDir() + "/mates.cram"
    CramIO.write(GenomicDataset(spark.createDataset(reads), meta), path,
      profile = Some(CramIO.WriteProfile(attachedMates = true)))
    val got = CramIO.read(spark, path).ds.collect()
    assert(got.length == reads.length)
    val byNameFrag = got.map(r =>
      (r.readName.get, r.readInFragment.get) -> r).toMap
    pairs.foreach { r =>
      val b = byNameFrag((r.readName.get, r.readInFragment.get))
      assert(b.mateAlignmentStart == r.mateAlignmentStart,
        s"${r.readName} mateStart: ${b.mateAlignmentStart} vs ${r.mateAlignmentStart}")
      assert(b.mateReferenceName == r.mateReferenceName)
      assert(b.insertSize == r.insertSize,
        s"${r.readName} tlen: ${b.insertSize} vs ${r.insertSize}")
      assert(b.mateNegativeStrand == r.mateNegativeStrand,
        s"${r.readName} mateNeg")
      assert(b.mateMapped.contains(true))
    }
  }

  test("RN=false: detached records keep names, attached pairs get generated ones") {
    // detached records carry RN inline even when RN=false (spec); only
    // attached (NF-linked) records have names regenerated from the counter
    val singles = mixedReads(60, 89)
    val pairs = (0 until 30).flatMap { i =>
      val s1 = 10000L + i * 500
      val s2 = s1 + 100
      Seq(
        rec(s"q$i", Some("chr1"), Some(s1), Some("36M"),
          "ACGTACGTACGTACGTACGTACGTACGTACGTACGT", "I" * 36, paired = true),
        rec(s"q$i", Some("chr1"), Some(s2), Some("36M"),
          "ACGTACGTACGTACGTACGTACGTACGTACGTACGT", "F" * 36, paired = true))
    }
    val reads = singles ++ pairs
    val path = tmpDir() + "/noname.cram"
    CramIO.write(GenomicDataset(spark.createDataset(reads), meta), path,
      profile = Some(CramIO.WriteProfile(readNames = false,
        attachedMates = true)))
    val got = CramIO.read(spark, path).ds.collect()
    assert(got.length == reads.length)
    // detached singles keep their original names
    val gotNames = got.flatMap(_.readName).toSet
    singles.foreach(r => assert(gotNames.contains(r.readName.get),
      s"detached ${r.readName} must keep its name"))
    // attached pairs: numeric generated names, shared within the pair
    val generated = got.filter(_.readName.exists(_.forall(_.isDigit)))
    assert(generated.length == pairs.length,
      s"expected ${pairs.length} generated names, got ${generated.length}")
    assert(generated.groupBy(_.readName).forall(_._2.length == 2),
      "each attached pair shares one generated name")
    // everything else survives
    val byStart = got.map(r => r.start -> r.cigar).toMap
    reads.foreach(r => assert(byStart(r.start) == r.cigar))
  }

  test("reference-based compression (RR=true) round trips via ReferenceSource") {
    val rnd = new scala.util.Random(97)
    val bases = "ACGT"
    val contig = Array.fill(20000)(bases(rnd.nextInt(4))).mkString
    val ref = graft.core.ReferenceContigs(Map("chr1" -> contig))
    val reads = (0 until 300).map { i =>
      val start = i * 60L
      val cigar = rnd.nextInt(4) match {
        case 0 => "36M"
        case 1 => "4S28M4S"
        case 2 => "10M4D26M"
        case _ => "12M3I21M"
      }
      val readLen = Cigar.parse(cigar).collect {
        case e if "MIS=X".contains(e.op) => e.length.toInt }.sum
      // bases: mostly the reference, with sprinkled mismatches
      var refPos = start
      val sb = new StringBuilder
      Cigar.parse(cigar).foreach { e =>
        e.op match {
          case 'M' =>
            (0 until e.length.toInt).foreach { k =>
              val rb = contig((refPos + k).toInt)
              sb.append(if (rnd.nextInt(10) == 0)
                bases((bases.indexOf(rb) + 1) % 4) else rb)
            }
            refPos += e.length
          case 'D' => refPos += e.length
          case 'S' | 'I' =>
            (0 until e.length.toInt).foreach(_ => sb.append(bases(rnd.nextInt(4))))
          case _ =>
        }
      }
      rec(s"r$i", Some("chr1"), Some(start), Some(cigar), sb.toString,
        Array.fill(readLen)((33 + rnd.nextInt(40)).toChar).mkString)
    }
    val prof = CramIO.WriteProfile(refBased = true, reference = Some(ref))
    val got = roundTripWith(prof, reads, readRef = Some(ref))
    assertSame(got, reads)

    // reading a reference-compressed file WITHOUT a reference fails loudly
    val path = tmpDir() + "/rr.cram"
    CramIO.write(GenomicDataset(spark.createDataset(reads), meta), path,
      profile = Some(prof))
    val ex = intercept[org.apache.spark.SparkException] {
      CramIO.read(spark, path).ds.collect()
    }
    assert(ex.getMessage.contains("reference") ||
      ex.getCause != null && ex.getCause.getMessage.contains("reference"))
  }

  /** Byte offset just past the SAM-header container: 26-byte file
    * definition, then one container (4-byte LE length + itf8/ltf8 header
    * fields + landmarks + CRC, followed by `length` body bytes). */
  private def afterHeaderContainer(bytes: Array[Byte]): Int = {
    var pos = 0
    val cin = new java.io.InputStream {
      override def read(): Int =
        if (pos >= bytes.length) -1 else { val v = bytes(pos) & 0xff; pos += 1; v }
    }
    (0 until 26).foreach(_ => cin.read())
    val len = cin.read() | (cin.read() << 8) | (cin.read() << 16) |
      (cin.read() << 24)
    (0 until 4).foreach(_ => CramIO.readItf8(cin)) // refSeq, start, span, nRec
    CramIO.readLtf8(cin); CramIO.readLtf8(cin) // counter, bases
    CramIO.readItf8(cin) // nBlocks
    val nLandmarks = CramIO.readItf8(cin)
    (0 until nLandmarks).foreach(_ => CramIO.readItf8(cin))
    (0 until 4).foreach(_ => cin.read()) // CRC
    pos + len
  }

  test("multi-container embedded-reference spans: a container WITHOUT " +
      "an embedded block decodes against another container's embedded " +
      "reference, no external ReferenceSource needed") {
    val rnd = new scala.util.Random(223)
    val bases = "ACGT"
    val contig = Array.fill(9000)(bases(rnd.nextInt(4))).mkString
    val ref = graft.core.ReferenceContigs(Map("chr1" -> contig))
    def mk(i: Int) = {
      val start = i * 40L
      rec(s"h$i", Some("chr1"), Some(start), Some("36M"),
        contig.substring(start.toInt, start.toInt + 36), "I" * 36)
    }
    // A spans [0, 3236+36) WITH an embedded reference; B is a sub-range
    // of that span, reference-compressed WITHOUT an embedded block — an
    // external writer relying on A's embedded block to cover B's records
    val readsA = (0 until 80).map(mk)
    val readsB = (40 until 80).map(b => mk(b).copy(readName = Some(s"x$b")))
    val dir = tmpDir()
    CramIO.write(GenomicDataset(spark.createDataset(readsA), meta),
      dir + "/a.cram", profile = Some(CramIO.WriteProfile(
        refBased = true, embedRef = true, reference = Some(ref))))
    CramIO.write(GenomicDataset(spark.createDataset(readsB), meta),
      dir + "/b.cram", profile = Some(CramIO.WriteProfile(
        refBased = true, embedRef = false, reference = Some(ref))))
    val a = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir + "/a.cram"))
    val b = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir + "/b.cram"))
    // splice B's data containers between A's data and A's EOF (38 bytes)
    val spliced = a.dropRight(38) ++
      b.slice(afterHeaderContainer(b), b.length - 38) ++ a.takeRight(38)
    val sp = dir + "/spliced.cram"
    java.nio.file.Files.write(java.nio.file.Paths.get(sp), spliced)
    // NO reference passed: B's container harvests A's embedded span
    val got = CramIO.read(spark, sp).ds.collect()
    assert(got.length == 120)
    val bySeq = got.map(r => r.readName.get -> r.sequence.get).toMap
    (readsA ++ readsB).foreach(r =>
      assert(bySeq(r.readName.get) == r.sequence.get))
  }

  test("hostile: reference window outside every harvested embedded span " +
      "- loud failure naming the gap, full recovery with a " +
      "ReferenceSource") {
    val rnd = new scala.util.Random(227)
    val bases = "ACGT"
    val contig = Array.fill(9000)(bases(rnd.nextInt(4))).mkString
    val ref = graft.core.ReferenceContigs(Map("chr1" -> contig))
    def mk(name: String, i: Int) = {
      val start = i * 40L
      rec(name + i, Some("chr1"), Some(start), Some("36M"),
        contig.substring(start.toInt, start.toInt + 36), "I" * 36)
    }
    // A embeds [0, ~1632); B's records live in [2000, 3236+36) — covered
    // by NO embedded span in the file
    val readsA = (0 until 40).map(i => mk("h", i))
    val readsB = (50 until 80).map(i => mk("x", i))
    val dir = tmpDir()
    CramIO.write(GenomicDataset(spark.createDataset(readsA), meta),
      dir + "/a.cram", profile = Some(CramIO.WriteProfile(
        refBased = true, embedRef = true, reference = Some(ref))))
    CramIO.write(GenomicDataset(spark.createDataset(readsB), meta),
      dir + "/b.cram", profile = Some(CramIO.WriteProfile(
        refBased = true, embedRef = false, reference = Some(ref))))
    val a = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir + "/a.cram"))
    val b = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir + "/b.cram"))
    val spliced = a.dropRight(38) ++
      b.slice(afterHeaderContainer(b), b.length - 38) ++ a.takeRight(38)
    val sp = dir + "/spliced.cram"
    java.nio.file.Files.write(java.nio.file.Paths.get(sp), spliced)
    // no reference: must fail LOUDLY, naming the harvested spans that
    // were tried and the fix
    val ex = intercept[org.apache.spark.SparkException] {
      CramIO.read(spark, sp).ds.collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("harvested"), msgs.take(500))
    assert(msgs.contains("ReferenceSource"), msgs.take(500))
    // with the reference: every record from BOTH writers decodes
    val got = CramIO.read(spark, sp, ref).ds.collect()
    assert(got.length == 70)
    val bySeq = got.map(r => r.readName.get -> r.sequence.get).toMap
    (readsA ++ readsB).foreach(r =>
      assert(bySeq(r.readName.get) == r.sequence.get))
  }

  test("embedded-reference slices decode with no external reference") {
    val rnd = new scala.util.Random(101)
    val bases = "ACGT"
    val contig = Array.fill(9000)(bases(rnd.nextInt(4))).mkString
    val ref = graft.core.ReferenceContigs(Map("chr1" -> contig))
    val reads = (0 until 200).map { i =>
      val start = i * 40L
      val seq = contig.substring(start.toInt, start.toInt + 36)
      rec(s"e$i", Some("chr1"), Some(start), Some("36M"), seq, "I" * 36)
    }
    val prof = CramIO.WriteProfile(refBased = true, embedRef = true,
      reference = Some(ref))
    // no reference passed on read: the embedded block supplies the bases
    val got = roundTripWith(prof, reads, readRef = None)
    assertSame(got, reads)
  }

  test("profile fuzz: random reads survive every writer-profile combination") {
    val rnd = new scala.util.Random(131)
    val reads = mixedReads(150, 137) :+
      rec("u", None, None, None, "ACGTAC", "IIIIII")
    val sorted = reads.sortBy(_.start)
    val profiles = for {
      core <- Seq(false, true)
      extra <- Seq(false, true)
      bal <- Seq(false, true)
      apd <- Seq(false, true)
      rps <- Seq(Int.MaxValue, 64)
    } yield CramIO.WriteProfile(core = core, extraCodecs = extra,
      byteArrayLen = bal, apDelta = apd, recordsPerSlice = rps)
    // sample 8 of the 32 combinations per run (deterministic seed)
    rnd.shuffle(profiles).take(8).foreach { p =>
      val got = roundTripWith(p, sorted,
        recordsPerContainer = 100 + rnd.nextInt(100))
      assertSame(got, sorted)
    }
  }

  test("BAM array (B) and hex (H) tags round trip") {
    val reads = Seq(
      rec("t1", Some("chr1"), Some(10L), Some("8M"), "ACGTACGT", "IIIIIIII",
        attrs = Map("XB" -> "B:c,-1,2,3", "XH" -> "H:1AFF00")),
      rec("t2", Some("chr1"), Some(20L), Some("8M"), "ACGTACGT", "IIIIIIII",
        attrs = Map("XS" -> "B:S,1,65535", "XI" -> "B:i,-100000,100000",
          "XF" -> "B:f,1.5,-2.5")))
    val got = roundTripWith(CramIO.WriteProfile(), reads)
    assertSame(got, reads)
  }

  test("corrupt inputs fail loudly with clear errors") {
    // wrong magic
    val bad = tmpDir() + "/bad.cram"
    java.nio.file.Files.write(java.nio.file.Paths.get(bad),
      "definitely not a cram file".getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException] { CramIO.read(spark, bad) }
    assert(e1.getMessage.contains("CRAM"))

    // truncated mid-container: write a good file, chop its tail
    val reads = mixedReads(50, 139)
    val good = tmpDir() + "/good.cram"
    CramIO.write(GenomicDataset(spark.createDataset(reads), meta), good)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(good))
    val cut = tmpDir() + "/cut.cram"
    java.nio.file.Files.write(java.nio.file.Paths.get(cut),
      java.util.Arrays.copyOfRange(bytes, 0, bytes.length * 2 / 3))
    intercept[Exception] { CramIO.read(spark, cut).ds.collect() }

    // container record-count desync is detected, not silently dropped
    val (body, n) = CramIO.firstContainerBody(spark, good)
    assert(n == 50)
    assert(CramIO.decodeContainer(body,
      Array("chr1", "chr2"), Array("rg1"), n).length == 50)
    val e3 = intercept[IllegalStateException] {
      CramIO.decodeContainer(body, Array("chr1", "chr2"), Array("rg1"), n + 1)
    }
    assert(e3.getMessage.contains("desync"))
  }

  test("'='/'X' CIGARs survive SAM -> BAM -> CRAM -> read byte-identically") {
    val samText =
      """@HD	VN:1.6	SO:unsorted
        |@SQ	SN:chr1	LN:10000
        |@RG	ID:rg1	SM:s1
        |e1	0	chr1	101	60	10=	*	0	0	ACGTACGTAC	IIIIIIIIII	RG:Z:rg1
        |e2	0	chr1	201	60	4=2X4=	*	0	0	ACGTACGTAC	IIIIIIIIII	RG:Z:rg1
        |e3	0	chr1	301	60	2S3=1X2M2S	*	0	0	ACGTACGTAC	IIIIIIIIII	RG:Z:rg1
        |e4	0	chr1	401	60	3=2I2X3=	*	0	0	ACGTACGTAC	IIIIIIIIII	RG:Z:rg1
        |""".stripMargin
    val samPath = tmpDir() + "/eqx.sam"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(samPath), samText)
    val expected = Map("e1" -> "10=", "e2" -> "4=2X4=",
      "e3" -> "2S3=1X2M2S", "e4" -> "3=2I2X3=")

    val fromSam = SamIO.read(spark, samPath)
    fromSam.ds.collect().foreach(r =>
      assert(r.cigar.contains(expected(r.readName.get)), s"SAM ${r.readName}"))

    val bamPath = tmpDir() + "/eqx.bam"
    BamIO.write(fromSam, bamPath, asSingleFile = true)
    val fromBam = BamIO.read(spark, bamPath)
    fromBam.ds.collect().foreach(r =>
      assert(r.cigar.contains(expected(r.readName.get)), s"BAM ${r.readName}"))

    val cramPath = tmpDir() + "/eqx.cram"
    CramIO.write(fromBam, cramPath)
    val fromCram = CramIO.read(spark, cramPath).ds.collect()
    assert(fromCram.length == 4)
    fromCram.foreach { r =>
      assert(r.cigar.contains(expected(r.readName.get)),
        s"CRAM ${r.readName}: ${r.cigar}")
      // the preservation tag is an internal channel: never user-visible
      assert(!r.attributes.contains("zC"), s"zC leaked on ${r.readName}")
      assert(r.attributes.get("RG").isDefined || r.readGroupId.isDefined)
    }
    // sequences/quals also intact through the chain
    fromCram.foreach(r => assert(r.sequence.exists(_.length == 10)))
  }

  test("per-feature qualities: a position no feature covers makes the quality missing") {
    val covered = Array[Byte](40, 30, 2)
    assert(CramIO.featureQuality(covered) == Some("I?#"))
    assert(CramIO.featureQuality(Array[Byte](40, 0xff.toByte, 2)) == None)
    assert(CramIO.featureQuality(Array[Byte](40, 30, 0xff.toByte)) == None)
    assert(CramIO.featureQuality(Array.emptyByteArray) == None)
  }

  test("CRAM compresses smaller than BAM on repetitive data") {
    val reads = (0 until 2000).map(i =>
      rec(s"c$i", Some("chr1"), Some(i.toLong), Some("36M"),
        "ACGTACGTACGTACGTACGTACGTACGTACGTACGT", "I" * 36))
    val gd = GenomicDataset(spark.createDataset(reads), meta)
    val cramPath = tmpDir() + "/c.cram"
    val bamPath = tmpDir() + "/c.bam"
    CramIO.write(gd, cramPath)
    BamIO.write(gd, bamPath, asSingleFile = true)
    val cramSize = new java.io.File(cramPath).length()
    val bamSize = new java.io.File(bamPath).length()
    assert(cramSize < bamSize,
      s"cram=$cramSize should be smaller than bam=$bamSize")
  }
}
