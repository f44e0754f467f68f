package graft.sources

import graft.SparkSpec
import graft.core.GenomicDataset
import graft.model._
import org.apache.spark.sql.Encoders

/** The alignment codecs agree with each other and with parquet. */
class CodecAgreementSpec extends SparkSpec {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  private val meta = AlignmentGen.meta

  private def rec(name: String, start: Long, seq: Option[String],
      quals: Option[String]): Alignment =
    Alignment(readName = Some(name), referenceName = Some("chr1"),
      start = Some(start), end = Some(start + 10), cigar = Some("10M"),
      sequence = seq, qualityScores = quals, mappingQuality = Some(60),
      readMapped = Some(true), readPaired = Some(false),
      readNegativeStrand = Some(false), mateNegativeStrand = Some(false),
      primaryAlignment = Some(true), secondaryAlignment = Some(false),
      supplementaryAlignment = Some(false), duplicateRead = Some(false),
      failedVendorQualityChecks = Some(false), mateMapped = Some(false),
      readInFragment = Some(0), readGroupId = Some("rg1"),
      mismatchingPositions = Some("4T5"),
      attributes = Map("RG" -> "Z:rg1", "MD" -> "Z:4T5", "NM" -> "i:1"))

  /** The fields every codec stores: all but the original/trimmed
    * alignment and the read group's sample. */
  private def key(a: Alignment) =
    a.copy(originalStart = None, originalCigar = None, basesTrimmedFromStart = None,
      basesTrimmedFromEnd = None, readGroupSampleId = None)

  /** Writes `recs` as parquet, BAM, CRAM and SAM under `dir`; returns each
    * read-back by `id`, parquet first. */
  private def writeAndRead(recs: Seq[Alignment], id: Alignment => String, dir: String)
      : Seq[(String, Map[String, Alignment])] = {
    val gd = GenomicDataset(spark.createDataset(recs), meta)
    gd.saveAsParquet(s"$dir/r.parquet")
    BamIO.write(gd, s"$dir/r.bam")
    CramIO.write(gd, s"$dir/r.cram")
    SamIO.write(gd, s"$dir/r.sam", asSingleFile = true)
    def byId(g: GenomicDataset[Alignment]): Map[String, Alignment] =
      g.ds.collect().map(r => id(r) -> r).toMap
    Seq(
      "parquet" -> byId(GenomicDataset.loadParquet[Alignment](spark, s"$dir/r.parquet")),
      "bam" -> byId(BamIO.read(spark, s"$dir/r.bam")),
      "cram" -> byId(CramIO.read(spark, s"$dir/r.cram")),
      "sam" -> byId(SamIO.read(spark, s"$dir/r.sam")))
  }

  test("BAM, CRAM, SAM and parquet read back the same reads") {
    val seq = Some("ACGTACGTAC")
    // (name, sequence, quality): quality survives the codecs only when it
    // is exactly as long as the sequence, otherwise it reads back missing;
    // an empty sequence reads back missing
    val cases = Seq(
      ("match", seq, Some("IIII#IIII5")),
      ("empty", seq, Some("")),
      ("short", seq, Some("IIII")),
      ("long", seq, Some("IIIIIIIIIIIIIIII")),
      ("noQual", seq, None),
      ("noSeq", None, Some("IIIIIIIIII")),
      ("noSeqNoQual", None, None),
      ("emptySeq", Some(""), Some("")))
    val recs = cases.zipWithIndex.map { case ((n, s, q), i) => rec(n, 100L + i, s, q) }
    val dir = tmpDir()
    val (("parquet", parquet) +: codecs) = writeAndRead(recs, _.readName.get, dir)

    recs.foreach { r =>
      val name = r.readName.get
      assert(parquet(name) == r, s"parquet: $name")
      codecs.foreach { case (codec, back) =>
        assert(key(back(name)) == key(AlignmentGen.stored(r)), s"$codec: $name")
      }
    }
    assert(codecs.forall(_._2.size == recs.size))
    // the SAM text itself: QUAL is '*' unless it is as long as SEQ
    val qual = scala.io.Source.fromFile(s"$dir/r.sam", "UTF-8").getLines()
      .filterNot(_.startsWith("@")).map(_.split("\t")).map(f => f(0) -> f(10)).toMap
    assert(qual == Map("match" -> "IIII#IIII5", "empty" -> "*", "short" -> "*",
      "long" -> "*", "noQual" -> "*", "noSeq" -> "*", "noSeqNoQual" -> "*",
      "emptySeq" -> "*"))
  }

  test("multi-byte read names read back alike; a name over 254 bytes is rejected") {
    val seq = Some("ACGTACGTAC")
    val q = Some("IIII#IIII5")
    // 'ü' is 2 UTF-8 bytes: 127 of them are BAM's 254-byte maximum
    val names = Seq("read-é", "读/1", "ü" * 127)
    val recs = names.zipWithIndex.map { case (n, i) => rec(n, 100L + i, seq, q) }
    val dir = tmpDir()
    val (("parquet", parquet) +: codecs) = writeAndRead(recs, _.readName.get, dir)
    recs.foreach { r =>
      val name = r.readName.get
      assert(parquet(name) == r, s"parquet: $name")
      codecs.foreach { case (codec, back) =>
        assert(back.get(name).map(key) == Some(key(AlignmentGen.stored(r))), s"$codec: $name")
      }
    }
    // 255 UTF-8 bytes in 128 chars: refused before any byte is written
    val tooLong = "ü" * 127 + "a"
    val gd = GenomicDataset(spark.createDataset(Seq(rec(tooLong, 100L, seq, q))), meta)
    val e = intercept[Exception](BamIO.write(gd, s"$dir/long.bam"))
    val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i }
    assert(cause.exists(_.getMessage.contains(tooLong)), e.toString)
    assert(!new java.io.File(s"$dir/long.bam").exists())
  }

  test("generated whole alignments read back alike from BAM, CRAM, SAM and parquet") {
    val recs = AlignmentGen.batch(400, seed = 8L)
    // the batch holds every case the generator is meant to vary
    val cases = Map[String, Alignment => Boolean](
      "unpaired" -> (!_.readPaired.get),
      "paired, mate mapped" -> (r => r.readPaired.get && r.mateMapped.get),
      "paired, mate unmapped" -> (r => r.readPaired.get && !r.mateMapped.get),
      "unpaired with mate fields" -> (r => !r.readPaired.get && r.mateMapped.get &&
        r.mateAlignmentStart.isDefined),
      "mate on another contig" -> (r => r.referenceName.isDefined &&
        r.mateReferenceName.exists(!r.referenceName.contains(_))),
      "second of pair" -> (r => r.readPaired.get && r.readInFragment.contains(1)),
      "secondary" -> (_.secondaryAlignment.get),
      "supplementary" -> (_.supplementaryAlignment.get),
      "duplicate" -> (_.duplicateRead.get),
      "vendor failed" -> (_.failedVendorQualityChecks.get),
      "unmapped" -> (!_.readMapped.get),
      "no read name" -> (_.readName.isEmpty),
      "I tag at 2^31 or above" -> (_.attributes.get("XU").exists(_.drop(2).toLong >= (1L << 31)))) ++
      "HSIDN=X".map(op => s"CIGAR op $op" -> ((r: Alignment) => r.cigar.exists(_.contains(op)))) ++
      Seq("XA", "XF", "XZ", "XH", "Bc", "BC", "Bs", "BS", "Bi", "BI", "Bf")
        .map(t => s"tag $t" -> ((r: Alignment) => r.attributes.contains(t)))
    cases.foreach { case (name, holds) => assert(recs.exists(holds), name) }

    val id = (r: Alignment) => AlignmentGen.index(r).toString
    val (("parquet", parquet) +: codecs) = writeAndRead(recs, id, tmpDir())
    recs.foreach { r =>
      assert(parquet(id(r)) == r, s"parquet: ${id(r)}")
      codecs.foreach { case (codec, back) =>
        assert(key(back(id(r))) == key(AlignmentGen.stored(r)), s"$codec: $r")
      }
    }
    assert(codecs.forall(_._2.size == recs.size))
  }

  test("BAM tag values: every integer width reads as SAM i, I and B:I unsigned") {
    def read(typ: Char, bytes: Int*): String = {
      val sb = new java.lang.StringBuilder
      assert(SamIO.readTag(typ, bytes.map(_.toByte).toArray, 0, sb) == bytes.length)
      sb.toString
    }
    assert(read('c', 0xff) == "i:-1")
    assert(read('C', 0xff) == "i:255")
    assert(read('s', 0xff, 0xff) == "i:-1")
    assert(read('S', 0xff, 0xff) == "i:65535")
    assert(read('i', 0xff, 0xff, 0xff, 0xff) == "i:-1")
    assert(read('I', 0xff, 0xff, 0xff, 0xff) == "i:4294967295")
    assert(read('B', 'I', 1, 0, 0, 0, 0xff, 0xff, 0xff, 0xff) == "B:I,4294967295")
    assert(read('B', 'c', 0, 0, 0, 0) == "B:c")
    // the writer picks I for an integer that only fits unsigned
    val out = new java.io.ByteArrayOutputStream()
    assert(SamIO.writeTag("XU", "i:4294967295", out))
    assert(out.toByteArray.toSeq.map(_ & 0xff) == Seq('X', 'U', 'I', 0xff, 0xff, 0xff, 0xff))
    assert(!SamIO.writeTag("XUV", "i:1", out) && !SamIO.writeTag("XU", "q:1", out))
    assertThrows[IllegalArgumentException](SamIO.writeTag("XU", "i:4294967296", out))
  }

  test("driver-streamed writers (indexed BAM, CRAM) collect each record once") {
    // a sorted plan hands out reused row buffers; the writers must turn
    // them into records before collecting, or one record repeats
    val rnd = new scala.util.Random(29)
    val recs = (0 until 500).map { i =>
      rec(f"d$i%03d", rnd.nextInt(9000).toLong,
        Some((0 until 10).map(_ => "ACGT"(rnd.nextInt(4))).mkString), Some("IIIIIIIIII"))
    }
    val gd = GenomicDataset(spark.createDataset(recs).repartition(3), meta)
      .sortLexicographically()
    val dir = tmpDir()
    BamIO.write(gd, s"$dir/i.bam", writeIndex = true)
    CramIO.write(gd, s"$dir/i.cram", recordsPerContainer = 64)
    Seq(BamIO.read(spark, s"$dir/i.bam"), CramIO.read(spark, s"$dir/i.cram")).foreach { back =>
      val got = back.ds.collect().toSeq
      assert(got.map(key).sortBy(_.readName.get) ==
        recs.map(r => key(AlignmentGen.stored(r))).sortBy(_.readName.get))
    }
    val bamOrder = BamIO.read(spark, s"$dir/i.bam").ds.collect().toSeq.map(_.start.get)
    assert(bamOrder == bamOrder.sorted)
  }
}
