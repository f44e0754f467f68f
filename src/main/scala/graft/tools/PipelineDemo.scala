package graft.tools

import org.apache.spark.sql.Encoders
import graft.core._
import graft.model._
import graft.operators._
import graft.sources._

/** End-to-end example pipeline over the genomics surface: SAM in →
  * duplicate marking → flagstat → parquet (with metadata sidecars) →
  * reload → region join against BED features → VCF out. Mirrors the
  * reference's transformAlignments CLI flow (SURVEY.md §3.1) as library
  * calls. Usage: runMain graft.tools.PipelineDemo <workDir>
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft-demo")
    new java.io.File(work).mkdirs()
    val spark = SessionTuning.local()
    spark.sparkContext.setLogLevel("ERROR")

    // --- fixture SAM: one duplicate group at pos 100, one lone read ---
    val sam = Seq(
      "@HD\tVN:1.6",
      "@SQ\tSN:chr1\tLN:10000",
      "@RG\tID:rg1\tSM:s1\tLB:libA",
      "r1\t0\tchr1\t101\t60\t10M\t*\t0\t0\tACGTACGTAC\tIIIIIIIIII\tRG:Z:rg1",
      "r2\t0\tchr1\t101\t60\t10M\t*\t0\t0\tACGTACGTAC\t##########\tRG:Z:rg1",
      "r3\t0\tchr1\t501\t60\t10M\t*\t0\t0\tACGTACGTAC\tIIIIIIIIII\tRG:Z:rg1"
    ).mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/in.sam"), sam)

    val gd = SamIO.read(spark, s"$work/in.sam")
    println(s"LOADED contigs=${gd.meta.sequences.records.map(_.name).mkString(",")}" +
      s" lib=${gd.meta.readGroups.readGroups.head.library.getOrElse("?")}")

    val marked = AlignmentOps.markDuplicates(gd.ds, gd.meta.readGroups)
    println("DUPES " + marked.collect()
      .map(r => s"${r.readName.get}=${r.duplicateRead.get}").sorted.mkString(" "))

    println("FLAGSTAT " + AlignmentOps.flagStat(marked).collect()
      .map(_.toString).mkString(" "))

    val gdm = gd.copy(ds = marked)(Encoders.product[Alignment])
    gdm.saveAsParquet(s"$work/reads.parquet")
    val re = GenomicDataset.loadParquet[Alignment](spark, s"$work/reads.parquet")(
      Encoders.product[Alignment])
    println(s"ROUNDTRIP rows=${re.ds.count()} " +
      s"contigs=${re.meta.sequences.records.map(_.name).mkString(",")}")

    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/f.bed"),
      "chr1\t100\t120\tpeak1\t5\t+\nchr1\t9000\t9100\tpeak2\t1\t-\n")
    val feats = GenomicDataset(
      FeatureIO.readBed(spark, s"$work/f.bed"), GenomicMetadata.empty)(
      Encoders.product[Feature])
    val (j, _) = re.shuffleRegionJoin(feats)
    println("JOIN " + j.selectExpr("l_readName", "r_name").collect()
      .map(r => s"${r.getString(0)}->${r.getString(1)}").sorted.mkString(" "))

    // VCF leg: write a context and read it back
    val vc = VariantContext(Some("chr1"), Some(150L), Some(151L),
      Some(Variant(Some("chr1"), Some(150L), Some(151L),
        referenceAllele = Some("A"), alternateAllele = Some("G"),
        filtersApplied = Some(true), filtersPassed = Some(true))),
      Seq(Genotype(Some("chr1"), Some(150L), Some(151L),
        sampleId = Some("s1"), alleles = Seq("REF", "ALT"),
        genotypeQuality = Some(40), readDepth = Some(10))))
    VcfIO.write(spark.createDataset(Seq(vc))(Encoders.product[VariantContext]),
      GenomicMetadata.empty, Seq("s1"), s"$work/out.vcf", asSingleFile = true)
    val back = VcfIO.read(spark, s"$work/out.vcf")
    println(s"VCF rows=${back.contexts.count()} " +
      s"gt=${back.contexts.collect().head.genotypes.head.alleles.mkString("/")}")

    // --- algorithm leg: MD tagging -> BQSR -> realignment -> pipe ---
    val refSeq = "AAAACCCCGGGGTTTTACGTACGTAAAACCCCGGGGTTTT"
    val contigs = graft.core.ReferenceContigs(Map("chr1" -> refSeq))
    def r(name: String, start: Long, seq: String, cigar: String) =
      Alignment(readName = Some(name), referenceName = Some("chr1"),
        start = Some(start),
        end = Some(start + graft.model.Cigar.referenceLength(cigar)),
        cigar = Some(cigar), sequence = Some(seq),
        qualityScores = Some("I" * seq.length), readMapped = Some(true),
        readNegativeStrand = Some(false), readGroupId = Some("rg1"),
        mappingQuality = Some(60))
    val algReads = spark.createDataset(Seq(
      r("ok", 0L, refSeq.substring(0, 10), "10M"),
      r("snp", 0L, "AACACCCCGG", "10M"),
      r("del", 8L, refSeq.substring(8, 16) + refSeq.substring(20, 28), "8M4D8M"),
      r("mis", 10L, refSeq.substring(10, 16) + refSeq.substring(20, 30), "16M")))(
      Encoders.product[Alignment])

    val tagged = graft.algorithms.MdTagging.tagReads(algReads, contigs)
    println("MDTAGS " + tagged.collect().sortBy(_.readName)
      .map(a => s"${a.readName.get}:${a.mismatchingPositions.getOrElse("-")}")
      .mkString(" "))

    val recal = graft.algorithms.Bqsr(tagged, knownSites = Set.empty)
    println("BQSR qual[snp]=" + recal.collect()
      .find(_.readName.contains("snp")).get.qualityScores.get)

    val realigned = graft.algorithms.RealignIndels(
      tagged, contigs, lodThreshold = 1.0)
    println("REALIGN " + realigned.collect().sortBy(_.readName)
      .map(a => s"${a.readName.get}:${a.cigar.get}").mkString(" "))

    // typed filter + conversion surface
    locally {
      import graft.api.Filters._
      val hq = recal.filterByMappingQuality(0).filterUnalignedReads()
        .filterDuplicateReads()
      val frags = graft.api.Conversions.alignmentsToReads(hq)
      println(s"FILTERS mapped=${hq.count()} asReads=${frags.count()}")
    }

    // BAM binary round trip through the SAM-loaded dataset
    BamIO.write(gdm, s"$work/reads.bam", asSingleFile = true)
    val viaBam = BamIO.read(spark, s"$work/reads.bam")
    println(s"BAM rows=${viaBam.ds.count()} " +
      s"contigs=${viaBam.meta.sequences.records.map(r => r.name + ":" + r.length).mkString(",")} " +
      s"dup=${viaBam.ds.collect().find(_.readName.contains("r2")).flatMap(_.duplicateRead).getOrElse(false)}")

    // native Catalyst expressions through the SQL surface
    graft.functions.GraftFunctions.register(spark)
    println("SQLFN " + spark.sql(
      "SELECT reverse_complement('AAACCCGT') AS rc, fnv1a64('doc') AS h")
      .collect().map(r => r.getString(0) + "/" + r.getLong(1)).head)

    import spark.implicits._
    val piped = graft.operators.Pipe.pipe(
      spark.createDataset(Seq("a", "b", "c")), Seq("tr", "a-z", "A-Z"),
      graft.operators.Pipe.TextInFormatter, graft.operators.Pipe.TextOutFormatter)
    println("PIPE " + piped.collect().sorted.mkString(""))

    spark.stop()
  }
}
