package graft.sources

import graft.SparkSpec
import graft.core.GenomicDataset
import graft.model._
import org.apache.spark.sql.Encoders

/** The alignment codecs agree with each other and with parquet. */
class CodecAgreementSpec extends SparkSpec {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  private val meta = GenomicMetadata(
    sequences = SequenceDictionary(Seq(
      SequenceRecord("chr1", 10000, index = Some(0)),
      SequenceRecord("chr2", 5000, index = Some(1)))),
    readGroups = ReadGroupDictionary(Seq(
      ReadGroup(sampleId = "s1", id = "rg1", library = Some("lib1")))))

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

  /** The fields every codec stores. */
  private def key(a: Alignment) =
    (a.readName, a.referenceName, a.start, a.end, a.cigar, a.sequence,
      a.qualityScores, a.mappingQuality, a.readMapped, a.readNegativeStrand,
      a.duplicateRead, a.readGroupId, a.mismatchingPositions, a.attributes)

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
    val gd = GenomicDataset(spark.createDataset(recs), meta)
    val dir = tmpDir()
    gd.saveAsParquet(s"$dir/r.parquet")
    BamIO.write(gd, s"$dir/r.bam")
    CramIO.write(gd, s"$dir/r.cram")
    SamIO.write(gd, s"$dir/r.sam", asSingleFile = true)

    def byName(g: GenomicDataset[Alignment]): Map[String, Alignment] =
      g.ds.collect().map(r => r.readName.get -> r).toMap
    val parquet = byName(GenomicDataset.loadParquet[Alignment](spark, s"$dir/r.parquet"))
    val codecs = Seq(
      "bam" -> byName(BamIO.read(spark, s"$dir/r.bam")),
      "cram" -> byName(CramIO.read(spark, s"$dir/r.cram")),
      "sam" -> byName(SamIO.read(spark, s"$dir/r.sam")))

    recs.foreach { r =>
      val name = r.readName.get
      assert(parquet(name) == r, s"parquet: $name")
      val want = key(r.copy(sequence = r.sequence.filter(_.nonEmpty),
        qualityScores = r.qualityScores
          .filter(q => q.nonEmpty && r.sequence.exists(_.length == q.length))))
      codecs.foreach { case (codec, back) =>
        assert(key(back(name)) == want, s"$codec: $name")
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
      assert(got.map(key).sortBy(_._1.get) == recs.map(key).sortBy(_._1.get))
    }
    val bamOrder = BamIO.read(spark, s"$dir/i.bam").ds.collect().toSeq.map(_.start.get)
    assert(bamOrder == bamOrder.sorted)
  }
}
