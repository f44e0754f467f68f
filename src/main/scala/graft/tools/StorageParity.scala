package graft.tools

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.core.GenomicDataset
import graft.model.Alignment
import graft.sources.{BamIO, CramIO, SamIO}

/** Storage-parity audit (BASELINE.md rows 7-10): the reference publishes Parquet ~20 % smaller than BAM and
  * CRAM ~43 % smaller than BAM on real reads
  * (docs/benchmarks/storage.rst:15-31); this main writes the SAME reads
  * through our three alignment sinks with default codecs and prints the
  * measured ratios, so a pathological sink encoding is caught before it
  * ships a 100 TB lake.
  *
  * Corpus: the reference repo's checked-in REAL reads
  * (NA12878.sam + bqsr1.sam — genuine Illumina sequence/quality/tag
  * statistics, which is what CRAM/Parquet compression lives on),
  * replicated `reps`× with shifted starts and suffixed names so record
  * count amortizes fixed container/header overheads. Replication keeps
  * per-record statistics identical to the real data; it can flatter
  * column codecs slightly (repeated values), which is why the 1×
  * numbers are printed too.
  *
  * Usage: runMain graft.tools.StorageParity [reps] [workDir]
  */
object StorageParity {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]
  private implicit val featEnc
      : org.apache.spark.sql.Encoder[graft.model.Feature] =
    Encoders.product[graft.model.Feature]
  private implicit val genoEnc
      : org.apache.spark.sql.Encoder[graft.model.Genotype] =
    Encoders.product[graft.model.Genotype]

  private def sizeOf(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isFile) f.length
    else if (f.isDirectory)
      f.listFiles.filterNot(_.getName.startsWith("_"))
        .filterNot(_.getName.startsWith(".")).map(_.length).sum
    else 0L
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(50)
    val work = args.lift(1).getOrElse("/tmp/graft-storage-parity")
    val res = "/root/reference/adam-core/src/test/resources"
    val spark = graft.core.SessionTuning.local()

    val na = SamIO.read(spark, s"$res/NA12878.sam")
    val bq = SamIO.read(spark, s"$res/bqsr1.sam")
    val meta = na.meta // NA12878's dictionary covers both (GRCh37 names)
    val base = na.ds.union(bq.ds).collect().toSeq

    // replicas are PERTURBED (~2 % base substitutions, quality string
    // rotated) so no two records are byte-identical — exact duplicates
    // would flatter Parquet's dictionary/RLE encodings far beyond what
    // real reads allow, while per-record statistics stay those of the
    // real data
    def corpus(k: Int): Dataset[Alignment] = {
      val bases = "ACGT"
      def perturbSeq(s: String, r: Int): String = {
        val sb = new StringBuilder(s)
        var i = (r * 31) % 47
        while (i < sb.length) {
          sb.setCharAt(i, bases(((sb.charAt(i) + r + i) & 0x7fff) % 4))
          i += 47
        }
        sb.toString
      }
      def rotate(s: String, r: Int): String =
        if (s.isEmpty) s
        else { val o = r % s.length; s.substring(o) + s.substring(0, o) }
      val rows = (0 until k).flatMap { r =>
        base.map { a =>
          if (r == 0) a
          else a.copy(
            readName = a.readName.map(n => s"$n.$r"),
            start = a.start.map(_ + r * 1000L),
            end = a.end.map(_ + r * 1000L),
            mateAlignmentStart = a.mateAlignmentStart.map(_ + r * 1000L),
            sequence = a.sequence.map(perturbSeq(_, r)),
            qualityScores = a.qualityScores.map(rotate(_, r)))
        }
      }
      spark.createDataset(rows).coalesce(1)
    }

    def audit(tag: String, k: Int): Unit = {
      val ds = corpus(k)
      val gd = GenomicDataset(ds, meta)
      val bam = s"$work/$tag.bam"
      val cram = s"$work/$tag.cram"
      val parquet = s"$work/$tag.parquet"
      BamIO.write(gd, bam, asSingleFile = true)
      CramIO.write(gd, cram)
      gd.saveAsParquet(parquet) // sink default codec (gzip since r14)
      // the reference's published 20%-smaller-than-BAM number was
      // measured with ADAM's DEFAULT parquet codec, which is GZIP
      // (ADAMContext saveAsParquet compressCodec default) — measure
      // both, plus zstd (the modern lake default)
      ds.write.mode("overwrite").option("compression", "gzip")
        .parquet(s"$work/$tag.gzip.parquet")
      ds.write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$work/$tag.zstd.parquet")
      val (b, c, p) = (sizeOf(bam), sizeOf(cram), sizeOf(parquet))
      val pg = sizeOf(s"$work/$tag.gzip.parquet")
      val pz = sizeOf(s"$work/$tag.zstd.parquet")
      println(f"""{"corpus":"$tag","reads":${base.size * k},""" +
        f""""bam_bytes":$b,"cram_bytes":$c,"parquet_bytes":$p,""" +
        f""""parquet_gzip_bytes":$pg,"parquet_zstd_bytes":$pz,""" +
        f""""cram_vs_bam":${c.toDouble / b}%.3f,""" +
        f""""parquet_vs_bam":${p.toDouble / b}%.3f,""" +
        f""""parquet_gzip_vs_bam":${pg.toDouble / b}%.3f,""" +
        f""""parquet_zstd_vs_bam":${pz.toDouble / b}%.3f}""")
    }

    audit("real_1x", 1)
    audit(s"real_${reps}x", reps)

    // codec WRITE/READ throughput: size alone does not pick a codec; at
    // 100 TB ingest the codec's write and scan rates are first-order.
    // Measured on the same replicated real-reads corpus (multi-partition,
    // as a real ingest writes) and on the sf0.1 documents text corpus.
    // MB/s is relative to a STABLE logical denominator (BAM bytes for
    // reads, raw text bytes for documents), so codecs are comparable:
    // "effective logical MB encoded/decoded per second".
    def timeSec(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def codecThroughput(tag: String, df: org.apache.spark.sql.DataFrame,
        logicalBytes: Long): Unit = {
      // one unmeasured warmup write+read so JIT/committer setup does
      // not bill the first codec in the loop
      val warm = s"$work/$tag.warmup.parquet"
      df.write.mode("overwrite").option("compression", "snappy")
        .parquet(warm)
      spark.read.parquet(warm).queryExecution.toRdd
        .foreachPartition(it => while (it.hasNext) it.next())
      Seq("gzip", "snappy", "zstd").foreach { c =>
        val p = s"$work/$tag.$c.tp.parquet"
        val w = timeSec {
          df.write.mode("overwrite").option("compression", c).parquet(p)
        }
        val r = timeSec {
          spark.read.parquet(p).queryExecution.toRdd
            .foreachPartition(it => while (it.hasNext) it.next())
        }
        println(f"""{"corpus":"$tag","codec":"$c",""" +
          f""""bytes":${sizeOf(p)},"logical_bytes":$logicalBytes,""" +
          f""""write_sec":$w%.2f,"read_sec":$r%.2f,""" +
          f""""write_mb_s":${logicalBytes / 1e6 / w}%.1f,""" +
          f""""read_mb_s":${logicalBytes / 1e6 / r}%.1f}""")
      }
    }
    val tpReads = corpus(reps)
      .repartition(8).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tpReads.count()
    codecThroughput("reads_tp", tpReads, sizeOf(s"$work/real_${reps}x.bam"))
    tpReads.unpersist()
    val docsDf = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
      .repartition(8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val textBytes = docsDf.agg(sum(length(col("text"))))
      .head().getLong(0)
    codecThroughput("documents_tp", docsDf, textBytes)
    docsDf.unpersist()

    // features + variants (SURVEY §6 / storage.rst:33-69): GFF3 claimed
    // ~20 % smaller as Parquet, BED coverage ~45 % smaller, gzip VCF
    // ~10 % SMALLER than genotype Parquet — measured on the reference's
    // real fixtures through our own sources
    def gz(bytes: Array[Byte]): Long = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(bytes); g.close(); bos.size().toLong
    }
    def fileBytes(p: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def featAudit(tag: String, src: String,
        load: String => org.apache.spark.sql.Dataset[graft.model.Feature])
        : Unit = {
      val gd = graft.core.GenomicDataset(load(src).coalesce(1),
        graft.model.GenomicMetadata.empty)
      val pq = s"$work/$tag.parquet"
      gd.saveAsParquet(pq)
      val raw = fileBytes(src)
      println(f"""{"corpus":"$tag","text_bytes":${raw.length},""" +
        f""""text_gz_bytes":${gz(raw)},"parquet_bytes":${sizeOf(pq)},""" +
        f""""parquet_vs_text":${sizeOf(pq).toDouble / raw.length}%.3f,""" +
        f""""parquet_vs_text_gz":${sizeOf(pq).toDouble / gz(raw)}%.3f}""")
    }
    featAudit("gff3_dvl1", s"$res/dvl1.200.gff3",
      p => graft.sources.FeatureIO.readGff3(spark, p))
    featAudit("bed_dvl1", s"$res/dvl1.200.bed",
      p => graft.sources.FeatureIO.readBed(spark, p))

    val vcfSrc = s"$res/NA12878.chr22.tiny.freebayes.vcf"
    val b = graft.sources.VcfIO.read(spark, vcfSrc)
    val gpq = s"$work/genotypes.parquet"
    b.contexts.flatMap(_.genotypes)(
        org.apache.spark.sql.Encoders.product[graft.model.Genotype])
      .coalesce(1).write.mode("overwrite")
      .option("compression", "gzip").parquet(gpq)
    val vraw = fileBytes(vcfSrc)
    println(f"""{"corpus":"vcf_na12878","vcf_bytes":${vraw.length},""" +
      f""""vcf_gz_bytes":${gz(vraw)},""" +
      f""""genotype_parquet_bytes":${sizeOf(gpq)},""" +
      f""""vcf_gz_vs_parquet":${gz(vraw).toDouble / sizeOf(gpq)}%.3f}""")
    spark.stop()
  }
}
