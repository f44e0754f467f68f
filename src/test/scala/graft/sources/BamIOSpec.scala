package graft.sources

import graft.SparkSpec
import graft.core.GenomicDataset
import graft.model._
import org.apache.spark.sql.Encoders

class BamIOSpec extends SparkSpec {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  private val meta = GenomicMetadata(
    sequences = SequenceDictionary(Seq(
      SequenceRecord("chr1", 10000, index = Some(0)),
      SequenceRecord("chr2", 5000, index = Some(1)))),
    readGroups = ReadGroupDictionary(Seq(
      ReadGroup(sampleId = "s1", id = "rg1", library = Some("lib1")))))

  private def reads: Seq[Alignment] = Seq(
    Alignment(readName = Some("r1"), referenceName = Some("chr1"),
      start = Some(100L), end = Some(110L), cigar = Some("10M"),
      sequence = Some("ACGTACGTAC"), qualityScores = Some("IIIIIIIIII"),
      mappingQuality = Some(60), readMapped = Some(true),
      readPaired = Some(true), properPair = Some(true),
      mateMapped = Some(true), mateReferenceName = Some("chr1"),
      mateAlignmentStart = Some(200L), insertSize = Some(110L),
      readInFragment = Some(0), readNegativeStrand = Some(false),
      mateNegativeStrand = Some(true), primaryAlignment = Some(true),
      secondaryAlignment = Some(false), supplementaryAlignment = Some(false),
      duplicateRead = Some(false), failedVendorQualityChecks = Some(false),
      readGroupId = Some("rg1"),
      attributes = Map("RG" -> "Z:rg1", "NM" -> "i:0")),
    Alignment(readName = Some("r2"), referenceName = Some("chr2"),
      start = Some(50L), end = Some(58L), cigar = Some("2S8M"),
      sequence = Some("TTACGTACGT"), qualityScores = Some("FFFFFFFFFF"),
      mappingQuality = Some(37), readMapped = Some(true),
      readPaired = Some(false), readNegativeStrand = Some(true),
      mateNegativeStrand = Some(false), readGroupId = Some("rg1"),
      primaryAlignment = Some(true), secondaryAlignment = Some(false),
      supplementaryAlignment = Some(false), duplicateRead = Some(true),
      failedVendorQualityChecks = Some(false), mateMapped = Some(true),
      attributes = Map("RG" -> "Z:rg1")),
    Alignment(readName = Some("u1"), sequence = Some("GGGGCCCC"),
      qualityScores = Some("IIIIIIII"), readMapped = Some(false),
      readPaired = Some(false), mateMapped = Some(true),
      readNegativeStrand = Some(false), mateNegativeStrand = Some(false),
      primaryAlignment = Some(true), secondaryAlignment = Some(false),
      supplementaryAlignment = Some(false), duplicateRead = Some(false),
      failedVendorQualityChecks = Some(false)))

  private def key(a: Alignment) =
    (a.readName, a.referenceName, a.start, a.end, a.cigar, a.sequence,
      a.qualityScores, a.mappingQuality, a.readMapped, a.readPaired,
      a.readNegativeStrand, a.mateNegativeStrand, a.duplicateRead,
      a.readGroupId)

  test("BGZF round trip") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".bgzf")
    val payload = ("hello bgzf " * 10000).getBytes("UTF-8")
    val out = new Bgzf.BgzfOutputStream(java.nio.file.Files.newOutputStream(tmp))
    out.write(payload); out.close()
    val in = Bgzf.inputStream(java.nio.file.Files.newInputStream(tmp))
    val back = in.readAllBytes()
    in.close()
    assert(back.sameElements(payload))
    // file ends with the spec EOF marker
    val raw = java.nio.file.Files.readAllBytes(tmp)
    assert(raw.takeRight(28).sameElements(Bgzf.EofMarker))
  }

  test("BAM single-file round trip preserves records and metadata") {
    val path = tmpDir() + "/t.bam"
    val gd = GenomicDataset(spark.createDataset(reads), meta)
    BamIO.write(gd, path, asSingleFile = true)
    val back = BamIO.read(spark, path)
    assert(back.meta.sequences.records.map(_.name) == Seq("chr1", "chr2"))
    assert(back.meta.sequences.records.map(_.length) == Seq(10000L, 5000L))
    assert(back.meta.readGroups.readGroups.head.library.contains("lib1"))
    val got = back.ds.collect()
    assert(got.length == 3)
    assert(got.map(key).toSet == reads.map(key).toSet)
    val r1 = got.find(_.readName.contains("r1")).get
    assert(r1.mateAlignmentStart.contains(200L))
    assert(r1.insertSize.contains(110L))
    assert(r1.attributes.get("NM").contains("i:0"))
  }

  test("BAM round trip preserves '='/'X' CIGAR operators") {
    val path = tmpDir() + "/eqx.bam"
    val r = Alignment(readName = Some("eqx1"), referenceName = Some("chr1"),
      start = Some(10L), end = Some(20L), cigar = Some("4=1X5="),
      sequence = Some("ACGTTACGTA"), qualityScores = Some("IIIIIIIIII"),
      mappingQuality = Some(60), readMapped = Some(true),
      readPaired = Some(false), readNegativeStrand = Some(false),
      mateNegativeStrand = Some(false), primaryAlignment = Some(true),
      secondaryAlignment = Some(false), supplementaryAlignment = Some(false),
      duplicateRead = Some(false), failedVendorQualityChecks = Some(false),
      mateMapped = Some(true))
    val gd = GenomicDataset(spark.createDataset(Seq(r)), meta)
    BamIO.write(gd, path, asSingleFile = true)
    val back = BamIO.read(spark, path).ds.collect()
    assert(back.length == 1)
    assert(back.head.cigar.contains("4=1X5="))
    assert(back.head.end.contains(20L))
  }

  test("BAM write stores exactly l_seq quality bytes, missing when lengths differ") {
    val path = tmpDir() + "/quals.bam"
    val attrs = Map("RG" -> "Z:rg1", "MD" -> "Z:10", "NM" -> "i:0")
    def rec(name: String, seq: Option[String], quals: Option[String]) =
      Alignment(readName = Some(name), referenceName = Some("chr1"),
        start = Some(100L), end = Some(110L), cigar = Some("10M"),
        sequence = seq, qualityScores = quals, mappingQuality = Some(60),
        readMapped = Some(true), readPaired = Some(false),
        readNegativeStrand = Some(false), mateNegativeStrand = Some(false),
        primaryAlignment = Some(true), secondaryAlignment = Some(false),
        supplementaryAlignment = Some(false), duplicateRead = Some(false),
        failedVendorQualityChecks = Some(false), mateMapped = Some(true),
        readGroupId = Some("rg1"), attributes = attrs)
    val seq = Some("ACGTACGTAC")
    val recs = Seq(
      rec("match", seq, Some("IIII#IIII5")),
      rec("empty", seq, Some("")),
      rec("short", seq, Some("IIII")),
      rec("long", seq, Some("IIIIIIIIIIIIIIII")),
      rec("noSeq", None, Some("IIIIIIIIII")))
    BamIO.write(GenomicDataset(spark.createDataset(recs), meta), path,
      asSingleFile = true)
    val back = BamIO.read(spark, path).ds.collect()
      .map(r => r.readName.get -> r).toMap
    assert(back.keySet == recs.map(_.readName.get).toSet)
    recs.foreach { r =>
      val b = back(r.readName.get)
      assert(b.attributes == attrs, s"${r.readName.get}: tags ${b.attributes}")
      assert(b.sequence == r.sequence)
      assert(b.cigar.contains("10M"))
    }
    assert(back("match").qualityScores.contains("IIII#IIII5"))
    Seq("empty", "short", "long", "noSeq").foreach { n =>
      assert(back(n).qualityScores.isEmpty, s"$n: ${back(n).qualityScores}")
    }
  }

  test("BAM distributed part-files round trip") {
    val path = tmpDir() + "/parts.bam"
    val gd = GenomicDataset(
      spark.createDataset(reads).repartition(2), meta)
    BamIO.write(gd, path, asSingleFile = false)
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".bam"))
    assert(files.length == 2)
    val back = BamIO.read(spark, path)
    assert(back.ds.collect().map(key).toSet == reads.map(key).toSet)
  }

  test("block-split read returns the same multiset as whole-file read") {
    // enough randomized records to span many BGZF blocks
    val rnd = new scala.util.Random(13)
    val bases = "ACGT"
    val many = (0 until 30000).map { i =>
      val seq = Array.fill(36)(bases(rnd.nextInt(4))).mkString
      Alignment(readName = Some(s"r$i"), referenceName = Some("chr1"),
        start = Some(i.toLong % 9000), end = Some(i.toLong % 9000 + 36),
        cigar = Some("36M"), sequence = Some(seq),
        qualityScores = Some("I" * 36), mappingQuality = Some(60),
        readMapped = Some(true), readPaired = Some(false),
        readNegativeStrand = Some(i % 2 == 1), mateNegativeStrand = Some(false),
        primaryAlignment = Some(true), secondaryAlignment = Some(false),
        supplementaryAlignment = Some(false), duplicateRead = Some(false),
        failedVendorQualityChecks = Some(false), mateMapped = Some(false),
        readGroupId = Some("rg1"), attributes = Map("RG" -> "Z:rg1"))
    }
    val path = tmpDir() + "/big.bam"
    BamIO.write(GenomicDataset(spark.createDataset(many), meta), path,
      asSingleFile = true)
    val size = new java.io.File(path).length()
    assert(size > 300000, s"fixture too small to split: $size")

    val whole = BamIO.read(spark, path, splitSize = Long.MaxValue)
      .ds.collect().map(_.readName.get)
    assert(whole.length == 30000)
    // force ~8+ splits; every record must appear exactly once
    val split = BamIO.read(spark, path, splitSize = size / 8)
      .ds.collect().map(_.readName.get)
    assert(split.length == 30000,
      s"split read lost/duplicated records: ${split.length}")
    assert(split.sorted.sameElements(whole.sorted))
  }

  test("record-start guesser rejects mid-record offsets") {
    val rnd = new scala.util.Random(17)
    val recs = (0 until 50).map { i =>
      Alignment(readName = Some(s"q$i"), referenceName = Some("chr1"),
        start = Some(i.toLong), end = Some(i + 36L), cigar = Some("36M"),
        sequence = Some(Array.fill(36)("ACGT"(rnd.nextInt(4))).mkString),
        qualityScores = Some("I" * 36), readMapped = Some(true),
        readPaired = Some(false), readNegativeStrand = Some(false),
        mateNegativeStrand = Some(false), primaryAlignment = Some(true),
        secondaryAlignment = Some(false), supplementaryAlignment = Some(false),
        duplicateRead = Some(false), failedVendorQualityChecks = Some(false),
        mateMapped = Some(false))
    }
    val path = tmpDir() + "/guess.bam"
    BamIO.write(GenomicDataset(spark.createDataset(recs), meta), path,
      asSingleFile = true)
    // decompress everything, find where records start (right after header)
    val in = new Bgzf.BgzfBlockInput(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)), 0L)
    val all = in.peek(1 << 20)
    in.close()
    // guessing from offset 0 of the record region must return 0; from 1,
    // the next record boundary (not some mid-record false positive)
    val headerLen = {
      // magic(4) + l_text + text + n_ref + per-ref entries
      val lText = (all(4) & 0xff) | ((all(5) & 0xff) << 8) |
        ((all(6) & 0xff) << 16) | ((all(7) & 0xff) << 24)
      var o = 8 + lText
      val nRef = (all(o) & 0xff) | ((all(o + 1) & 0xff) << 8) |
        ((all(o + 2) & 0xff) << 16) | ((all(o + 3) & 0xff) << 24)
      o += 4
      (0 until nRef).foreach { _ =>
        val ln = (all(o) & 0xff) | ((all(o + 1) & 0xff) << 8) |
          ((all(o + 2) & 0xff) << 16) | ((all(o + 3) & 0xff) << 24)
        o += 4 + ln + 4
      }
      o
    }
    val region = all.drop(headerLen)
    assert(BamIO.guessRecordStart(region, nRef = 2, maxScan = 1) == 0)
    val rec0Len = 4 + ((region(0) & 0xff) | ((region(1) & 0xff) << 8) |
      ((region(2) & 0xff) << 16) | ((region(3) & 0xff) << 24))
    val fromInside = BamIO.guessRecordStart(
      region.drop(1), nRef = 2, maxScan = region.length - 1)
    assert(fromInside == rec0Len - 1,
      s"guesser found $fromInside, expected ${rec0Len - 1}")
  }

  test("block-split read survives long-read records spanning many blocks") {
    // 60 kb sequences: one record ≈ 90 kb encoded > a 64 KiB BGZF block,
    // so every record spans block boundaries and split ownership must
    // still deliver each exactly once
    val rnd = new scala.util.Random(43)
    val bases = "ACGT"
    val long = (0 until 40).map { i =>
      val n = 40000 + rnd.nextInt(40000)
      Alignment(readName = Some(s"L$i"), referenceName = Some("chr1"),
        start = Some(i * 100L), end = Some(i * 100L + n),
        cigar = Some(s"${n}M"),
        sequence = Some(Array.fill(n)(bases(rnd.nextInt(4))).mkString),
        qualityScores = Some("I" * n), mappingQuality = Some(60),
        readMapped = Some(true), readPaired = Some(false),
        readNegativeStrand = Some(false), mateNegativeStrand = Some(false),
        primaryAlignment = Some(true), secondaryAlignment = Some(false),
        supplementaryAlignment = Some(false), duplicateRead = Some(false),
        failedVendorQualityChecks = Some(false), mateMapped = Some(false))
    }
    val path = tmpDir() + "/long.bam"
    BamIO.write(GenomicDataset(spark.createDataset(long), meta), path,
      asSingleFile = true)
    val size = new java.io.File(path).length()
    val split = BamIO.read(spark, path, splitSize = size / 6)
      .ds.collect().map(r => (r.readName.get, r.sequence.get.length))
    assert(split.length == 40, s"got ${split.length}")
    assert(split.map(_._1).sorted.sameElements(long.map(_.readName.get).sorted))
    split.foreach { case (n, len) =>
      assert(long.find(_.readName.contains(n)).get.sequence.get.length == len)
    }
  }

  test("indexed BAM: region query reads only matching records") {
    val rnd = new scala.util.Random(19)
    val bases = "ACGT"
    // coordinate-sorted across both refs
    val sorted = (Seq("chr1", "chr2").zipWithIndex.flatMap { case (ref, ri) =>
      val n = if (ri == 0) 12000 else 6000
      (0 until n).map { i =>
        val s = (i.toLong * 7) % (if (ri == 0) 9900 else 4900)
        (ri, s, ref)
      }.sortBy(_._2).zipWithIndex.map { case ((_, s, refName), i) =>
        Alignment(readName = Some(s"$refName-$i"), referenceName = Some(refName),
          start = Some(s), end = Some(s + 36), cigar = Some("36M"),
          sequence = Some(Array.fill(36)(bases(rnd.nextInt(4))).mkString),
          qualityScores = Some("I" * 36), mappingQuality = Some(60),
          readMapped = Some(true), readPaired = Some(false),
          readNegativeStrand = Some(false), mateNegativeStrand = Some(false),
          primaryAlignment = Some(true), secondaryAlignment = Some(false),
          supplementaryAlignment = Some(false), duplicateRead = Some(false),
          failedVendorQualityChecks = Some(false), mateMapped = Some(false))
      }
    })
    val path = tmpDir() + "/indexed.bam"
    BamIO.write(GenomicDataset(spark.createDataset(sorted), meta), path,
      asSingleFile = true, writeIndex = true)
    assert(new java.io.File(path + ".bai").exists())

    val regions = Seq(
      ReferenceRegion("chr1", 1000L, 1400L),
      ReferenceRegion("chr2", 4000L, 4200L))
    val got = BamIO.readIndexed(spark, path, regions)
      .ds.collect().map(_.readName.get).sorted
    val expected = sorted.filter(r => regions.exists(rr =>
        r.referenceName.contains(rr.referenceName) &&
          r.start.exists(_ < rr.end) && r.end.exists(_ > rr.start)))
      .map(_.readName.get).sorted
    assert(expected.nonEmpty, "fixture produced no overlaps")
    assert(got.sameElements(expected),
      s"indexed read got ${got.length}, expected ${expected.length}")
  }

  test("BGZF text: split reads return every line exactly once") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // variable-length lines so terminators land at arbitrary block offsets
    val lines = (0 until 60000).map(i =>
      s"line-$i-" + ("x" * rnd.nextInt(60)))
    val path = tmpDir() + "/text.gz"
    BgzfText.writeLines(spark.createDataset(lines), path, asSingleFile = true)
    val size = new java.io.File(path).length()
    assert(size > 150000, s"fixture too small: $size")

    val whole = BgzfText.readLines(spark, path, splitSize = Long.MaxValue)
      .collect()
    assert(whole.length == 60000)
    assert(whole.sorted.sameElements(lines.sorted))
    val split = BgzfText.readLines(spark, path, splitSize = size / 7).collect()
    assert(split.length == 60000,
      s"split text read lost/duplicated lines: ${split.length}")
    assert(split.sorted.sameElements(lines.sorted))
  }

  test("BGZF text: giant lines spanning whole splits still read exactly once") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    // mix of ~300 KB lines (span several 64 KiB blocks and whole small
    // splits) and short lines
    val lines = (0 until 30).map { i =>
      if (i % 3 == 0) s"G$i-" + Array.fill(300000)(('a' + rnd.nextInt(26)).toChar).mkString
      else s"s$i-short"
    }
    val path = tmpDir() + "/giant.gz"
    BgzfText.writeLines(spark.createDataset(lines), path, asSingleFile = true)
    val size = new java.io.File(path).length()
    val got = BgzfText.readLines(spark, path, splitSize = size / 9).collect()
    assert(got.length == 30, s"got ${got.length}")
    assert(got.sorted.sameElements(lines.sorted))
  }

  test("tabix-indexed VCF region query returns exactly the overlapping sites") {
    import spark.implicits._
    val vcMeta = GenomicMetadata(
      sequences = SequenceDictionary(Seq(
        SequenceRecord("chr1", 100000, index = Some(0)),
        SequenceRecord("chr2", 50000, index = Some(1)))),
      headerLines = Seq(HeaderLine("##contig=<ID=chr1,length=100000>"),
        HeaderLine("##contig=<ID=chr2,length=50000>")))
    val sites = (Seq("chr1", "chr2").flatMap { rn =>
      (0 until 8000).map { i =>
        val s = i.toLong * 11
        VariantContext(Some(rn), Some(s), Some(s + 1),
          Some(Variant(referenceName = Some(rn), start = Some(s),
            end = Some(s + 1), referenceAllele = Some("A"),
            alternateAllele = Some("T"), filtersApplied = Some(true),
            filtersPassed = Some(true))), Seq.empty)
      }
    })
    val path = tmpDir() + "/sites.vcf.gz"
    VcfIO.writeBgzfIndexed(spark.createDataset(sites), vcMeta, Seq.empty, path)
    assert(new java.io.File(path + ".tbi").exists())

    val regions = Seq(
      ReferenceRegion("chr1", 30000L, 31000L),
      ReferenceRegion("chr2", 100L, 400L))
    val got = VcfIO.readIndexed(spark, path, regions)
    assert(got.samples.isEmpty)
    val gotKeys = got.contexts.collect()
      .map(vc => (vc.referenceName.get, vc.start.get)).sorted
    val expected = sites.filter(vc => regions.exists(rr =>
        vc.referenceName.contains(rr.referenceName) &&
          vc.start.exists(_ < rr.end) && vc.end.exists(_ > rr.start)))
      .map(vc => (vc.referenceName.get, vc.start.get)).sorted
    assert(expected.nonEmpty)
    assert(gotKeys.sameElements(expected),
      s"indexed VCF got ${gotKeys.length}, expected ${expected.length}")
  }

  test("bgzipped VCF round-trips through the splittable path") {
    import spark.implicits._
    val header =
      "##fileformat=VCFv4.2\n" +
        "##contig=<ID=chr1,length=10000>\n" +
        "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\n"
    val body = (1 to 5000).map(i =>
      s"chr1\t$i\t.\tA\tC\t50\tPASS\tDP=$i\tGT:DP\t0/1:$i")
    val path = tmpDir() + "/x.vcf.gz"
    BgzfText.writeLines(spark.createDataset(body), path,
      asSingleFile = true, header = Some(header))
    val b = VcfIO.read(spark, path)
    assert(b.samples == Seq("s1"))
    assert(b.meta.sequences.records.map(_.name) == Seq("chr1"))
    val vcs = b.contexts.collect()
    assert(vcs.length == 5000)
    assert(vcs.flatMap(_.genotypes).flatMap(_.readDepth).sum ==
      (1 to 5000).sum)
  }

  test("BAM records carry the SAM spec bin of their alignment span") {
    def read(name: String, start: Option[Long], end: Option[Long]) =
      Alignment(readName = Some(name), referenceName = start.map(_ => "chr1"),
        start = start, end = end, cigar = end.map(e => s"${e - start.get}M"),
        sequence = Some("ACGTACGTAC"), readMapped = Some(end.isDefined))
    // name -> expected bin, worked out by hand from §4.2's reg2bin
    val cases = Seq(
      read("in16k", Some(100L), Some(110L)) -> 4681, // level 5, first 16 kb
      read("second16k", Some(20000L), Some(20010L)) -> 4682,
      read("spans16k", Some(16380L), Some(16390L)) -> 585, // level 4
      read("unmappedPlaced", Some(200L), None) -> 4681, // [pos, pos + 1)
      read("unplaced", None, None) -> 4680)
    val path = tmpDir() + "/bins.bam"
    BamIO.write(GenomicDataset(spark.createDataset(cases.map(_._1)), meta), path)
    val in = new java.io.DataInputStream(
      Bgzf.inputStream(java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))))
    def le32(): Int = Integer.reverseBytes(in.readInt())
    in.skipBytes(4); in.skipBytes(le32()) // magic, header text
    (1 to le32()).foreach { _ => in.skipBytes(le32()); in.skipBytes(4) }
    val bins = cases.indices.map { _ =>
      val rec = new Array[Byte](le32())
      in.readFully(rec)
      val name = new String(rec, 32, (rec(8) & 0xff) - 1, "UTF-8")
      name -> ((rec(10) & 0xff) | (rec(11) & 0xff) << 8)
    }.toMap
    in.close()
    assert(bins == cases.map { case (r, b) => r.readName.get -> b }.toMap)
  }

  test("SAM -> BAM -> SAM preserves the record line content") {
    val samPath = tmpDir() + "/x.sam"
    val gd = GenomicDataset(spark.createDataset(reads), meta)
    SamIO.write(gd, samPath, asSingleFile = true)
    val viaSam = SamIO.read(spark, samPath)
    val bamPath = tmpDir() + "/x.bam"
    BamIO.write(viaSam, bamPath, asSingleFile = true)
    val viaBam = BamIO.read(spark, bamPath)
    assert(viaBam.ds.collect().map(key).toSet ==
      viaSam.ds.collect().map(key).toSet)
  }
}
