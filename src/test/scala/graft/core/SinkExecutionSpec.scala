package graft.core

import graft.SparkSpec
import graft.model._
import graft.sources.BamIO
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** Sinks of one GenomicDataset share one execution, and sidecars are
  * written without a Spark job. */
class SinkExecutionSpec extends SparkSpec {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  private val meta = GenomicMetadata(
    sequences = SequenceDictionary(Seq(
      SequenceRecord("chr1", 100000, index = Some(0)),
      SequenceRecord("chr2", 50000, md5 = Some("abc"), index = Some(1)))),
    readGroups = ReadGroupDictionary(Seq(
      ReadGroup(sampleId = "s1", id = "rg1", library = Some("lib1")),
      ReadGroup(sampleId = "s2", id = "rg2"))),
    samples = Seq(Sample("s1"), Sample("s2")),
    processingSteps = Seq(ProcessingStep("bwa", Some("bwa"), previousId = None),
      ProcessingStep("graft", Some("graft"), previousId = Some("bwa"))),
    headerLines = Seq(HeaderLine("@CO\tsink spec")))

  private def reads(n: Int): Seq[Alignment] = {
    val rnd = new scala.util.Random(5)
    (0 until n).map { i =>
      val ref = if (i % 3 == 0) "chr2" else "chr1"
      val start = rnd.nextInt(40000).toLong
      Alignment(readName = Some(f"r$i%04d"), referenceName = Some(ref),
        start = Some(start), end = Some(start + 20), cigar = Some("20M"),
        sequence = Some((0 until 20).map(_ => "ACGT"(rnd.nextInt(4))).mkString),
        qualityScores = Some((0 until 20).map(_ => (40 + rnd.nextInt(30)).toChar).mkString),
        mappingQuality = Some(60), readMapped = Some(true),
        readPaired = Some(false), readNegativeStrand = Some(i % 2 == 0),
        mateNegativeStrand = Some(false), primaryAlignment = Some(true),
        secondaryAlignment = Some(false), supplementaryAlignment = Some(false),
        duplicateRead = Some(i % 7 == 0), failedVendorQualityChecks = Some(false),
        mateMapped = Some(false), readGroupId = Some("rg" + (1 + i % 2)),
        mismatchingPositions = Some("20"),
        attributes = Map("RG" -> s"Z:rg${1 + i % 2}", "MD" -> "Z:20"))
    }
  }

  private def footer(dir: String) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val file = p.getFileSystem(conf).listStatus(p)
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter.getFileMetaData finally reader.close()
  }

  test("a second sink reuses the first sink's execution and writes the same records") {
    val seen = spark.sparkContext.longAccumulator("sink-input-rows")
    val upstream = spark.createDataset(reads(400)).repartition(3)
      .map { r => seen.add(1L); r }
    // a non-nullable column, as markDuplicates' flag is: the parquet
    // footer must keep it required
    val flagged = upstream.toDF()
      .withColumn("duplicateRead", coalesce(col("duplicateRead"), lit(false)))
      .as[Alignment]
    assert(!flagged.schema("duplicateRead").nullable)
    val sorted = GenomicDataset(flagged, meta).sortLexicographically()
    val dir = tmpDir()

    sorted.saveAsParquet(s"$dir/out.parquet")
    val afterFirst = seen.value
    assert(afterFirst > 0)
    BamIO.write(sorted, s"$dir/out.bam")
    assert(seen.value == afterFirst,
      s"second sink recomputed upstream rows: ${seen.value} vs $afterFirst")

    val fromParquet = GenomicDataset.loadParquet[Alignment](spark, s"$dir/out.parquet")
    val fromBam = BamIO.read(spark, s"$dir/out.bam")
    val byName = (xs: Seq[Alignment]) => xs.sortBy(_.readName.get)
    val want = byName(reads(400))
    assert(byName(fromParquet.ds.collect().toSeq) == want)
    assert(byName(fromBam.ds.collect().toSeq).map(r => (r.readName, r.start,
      r.sequence, r.qualityScores, r.duplicateRead)) ==
      want.map(r => (r.readName, r.start, r.sequence, r.qualityScores, r.duplicateRead)))
    assert(fromParquet.sorted)
    assert(fromParquet.meta == meta)
    // BAM order is the sort order
    val bamOrder = fromBam.ds.collect().toSeq.map(r => (r.referenceName.get, r.start.get))
    assert(bamOrder == bamOrder.sorted)

    // the footer is the one the plain DataFrame writer gives, required and
    // optional fields included
    sorted.toDF.write.parquet(s"$dir/plain.parquet")
    val got = footer(s"$dir/out.parquet")
    val plain = footer(s"$dir/plain.parquet")
    assert(got.getSchema == plain.getSchema)
    assert(got.getKeyValueMetaData == plain.getKeyValueMetaData)
    val flag = got.getSchema.getFieldIndex("duplicateRead")
    assert(got.getSchema.getFields.get(flag).getRepetition.name == "REQUIRED")
  }

  test("saveAsPartitionedParquet over the shared execution keeps its layout") {
    val seen = spark.sparkContext.longAccumulator("partitioned-input-rows")
    val sorted = GenomicDataset(
      spark.createDataset(reads(120)).map { r => seen.add(1L); r }, meta)
      .sortLexicographically()
    val dir = tmpDir()
    BamIO.write(sorted, s"$dir/out.bam")
    val afterFirst = seen.value
    sorted.saveAsPartitionedParquet(s"$dir/part", binSize = 10000L)
    assert(seen.value == afterFirst)
    val back = GenomicDataset.loadPartitionedParquet[Alignment](spark, s"$dir/part",
      Seq(ReferenceRegion("chr2", 0L, 10000L)))
    assert(back.ds.collect().map(_.readName.get).sorted.toSeq ==
      reads(120).filter(r => r.referenceName.contains("chr2") && r.start.get < 10000L)
        .map(_.readName.get).sorted)
    assert(back.meta == meta)
  }

  test("Sidecars.write runs no Spark job and matches the Spark writer's files") {
    val dir = tmpDir()
    assert(jobsDuring(Sidecars.write(spark, s"$dir/driver", meta)) == 0)
    assert(Sidecars.read(spark, s"$dir/driver") == meta)

    import spark.implicits._
    def viaSpark[A: org.apache.spark.sql.Encoder](sub: String, rows: Seq[A]): Unit =
      spark.createDataset(rows).coalesce(1).write.parquet(s"$dir/spark/_graft_$sub")
    viaSpark("sequences", meta.sequences.records)
    viaSpark("readGroups", meta.readGroups.readGroups)
    viaSpark("samples", meta.samples)
    viaSpark("processingSteps", meta.processingSteps)
    viaSpark("headerLines", meta.headerLines.map(h => HeaderRow(h.raw)))
    Seq("sequences", "readGroups", "samples", "processingSteps", "headerLines").foreach { sub =>
      val d = s"$dir/driver/_graft_$sub"
      val s = s"$dir/spark/_graft_$sub"
      assert(spark.read.parquet(d).schema == spark.read.parquet(s).schema, sub)
      assert(footer(d).getSchema == footer(s).getSchema, sub)
      assert(footer(d).getKeyValueMetaData == footer(s).getKeyValueMetaData, sub)
    }

    // an empty sidecar is not written; rewriting replaces the old file
    Sidecars.write(spark, s"$dir/driver", meta.copy(samples = Seq(Sample("s9"))))
    assert(Sidecars.read(spark, s"$dir/driver").samples == Seq(Sample("s9")))
    Sidecars.write(spark, s"$dir/empty", GenomicMetadata.empty)
    assert(!new java.io.File(s"$dir/empty/_graft_sequences").exists())
  }
}
