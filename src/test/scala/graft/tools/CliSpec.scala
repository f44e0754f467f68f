package graft.tools

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, timestamp_millis}

/** Every CLI command exercised end-to-end on fixture files (the reference
  * covers its command surface in adam-cli/src/test; here each command runs
  * through Cli.run so the dispatch, loaders and sinks are all on the
  * tested path). */
class CliSpec extends SparkSpec {

  private def fixture(name: String, content: String): String = {
    val p = Paths.get(tmpDir(), name)
    Files.writeString(p, content)
    p.toString
  }

  private val sam =
    """@HD	VN:1.6	SO:unsorted
      |@SQ	SN:chr1	LN:10000
      |@RG	ID:rg1	SM:s1
      |a1	0	chr1	101	60	10M	*	0	0	ACGTACGTAC	IIIIIIIIII	RG:Z:rg1
      |a2	0	chr1	101	60	10M	*	0	0	ACGTACGTAC	FFFFFFFFFF	RG:Z:rg1
      |a3	0	chr1	301	60	4M2D6M	*	0	0	ACGTACGTAC	IIIIIIIIII	RG:Z:rg1
      |""".stripMargin

  private val vcf =
    """##fileformat=VCFv4.2
      |##contig=<ID=chr1,length=10000>
      |##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">
      |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	s1
      |chr1	101	rs1	A	T	50	PASS	DP=20	GT	0/1
      |chr1	201	.	G	C	.	PASS	DP=5	GT	1/1
      |""".stripMargin

  private val bed = "chr1\t10\t100\tf1\t5\t+\nchr1\t200\t300\tf2\t7\t-\n"

  private val fasta = ">chr1 test\nACGTACGTACGTACGT\nACGTACGTACGTACGT\n"

  private def parquetRows(path: String): Long =
    spark.read.parquet(path).count()

  test("transformAlignments: SAM -> sorted dup-marked SAM single file") {
    val in = fixture("in.sam", sam)
    val out = tmpDir() + "/out.sam"
    Cli.run(spark, Seq("transformAlignments", in, out,
      "-mark_duplicates", "-sort", "-single"))
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.stream().filter(l => !l.startsWith("@")).count() == 3)
    // a1/a2 same position: one is marked duplicate (flag 0x400)
    val flags = Files.readAllLines(Paths.get(out)).stream()
      .filter(l => !l.startsWith("@"))
      .map[Int](l => l.split("\t")(1).toInt).toArray
    assert(flags.count(f => (f.asInstanceOf[Int] & 0x400) != 0) == 1)
  }

  test("transformAlignments: SAM -> parquet") {
    val in = fixture("in2.sam", sam)
    val out = tmpDir() + "/aln.parquet"
    Cli.run(spark, Seq("transformAlignments", in, out))
    assert(parquetRows(out) == 3)
  }

  test("transformFeatures: BED -> GFF3 and parquet") {
    val in = fixture("f.bed", bed)
    val outG = tmpDir() + "/f.gff3"
    Cli.run(spark, Seq("transformFeatures", in, outG))
    val outP = tmpDir() + "/f.parquet"
    Cli.run(spark, Seq("transformFeatures", in, outP))
    assert(parquetRows(outP) == 2)
  }

  test("flagstat runs without error") {
    val in = fixture("fs.sam", sam)
    Cli.run(spark, Seq("flagstat", in))
  }

  // paired/dup-flavored SAM for the view flag-filter matrix:
  // p1 = paired first-of-pair fwd; p2 = paired second-of-pair rev, dup;
  // u1 = unpaired unmapped; s1 = unpaired mapped mapq 10
  private val viewSam =
    """@HD	VN:1.6	SO:unsorted
      |@SQ	SN:chr1	LN:10000
      |@RG	ID:rg1	SM:s1
      |p1	67	chr1	101	60	10M	=	201	110	ACGTACGTAC	IIIIIIIIII	RG:Z:rg1
      |p2	1171	chr1	201	60	10M	=	101	-110	ACGTACGTAC	IIIIIIIIII	RG:Z:rg1
      |u1	4	*	0	0	*	*	0	0	ACGTACGTAC	IIIIIIIIII	RG:Z:rg1
      |s1	0	chr1	301	10	10M	*	0	0	ACGTACGTAC	IIIIIIIIII	RG:Z:rg1
      |""".stripMargin

  private def viewNames(args: String*): Set[String] = {
    val in = fixture(s"v${args.hashCode.abs}.sam", viewSam)
    val out = tmpDir() + "/v.sam"
    Cli.run(spark, Seq("view", in, out) ++ args :+ "-single")
    Files.readAllLines(Paths.get(out)).stream().toArray.map(_.toString)
      .filter(l => !l.startsWith("@")).map(_.split("\t")(0)).toSet
  }

  test("view -f/-F/-g/-G/-q implement the reference flag-filter semantics") {
    // -f 1: all bits of 0x1 set -> paired reads only
    assert(viewNames("-f", "1") == Set("p1", "p2"))
    // -f 65: paired AND first-of-pair
    assert(viewNames("-f", "65") == Set("p1"))
    // -F 4: drop unmapped
    assert(viewNames("-F", "4") == Set("p1", "p2", "s1"))
    // -F 1: unpaired only
    assert(viewNames("-F", "1") == Set("u1", "s1"))
    // -f 1 -F 1024: paired, not duplicate
    assert(viewNames("-f", "1", "-F", "1024") == Set("p1"))
    // -g 1028 (0x400|0x4): duplicate OR unmapped
    assert(viewNames("-g", "1028") == Set("p2", "u1"))
    // -G 1028: NOT (duplicate AND unmapped) — at least one bit mismatches
    assert(viewNames("-G", "1028") == Set("p1", "p2", "u1", "s1"))
    // hex accepted like samtools; 0x40 counts only on paired reads, as in
    // the flag the SAM/BAM/CRAM writers write
    assert(viewNames("-f", "0x40") == Set("p1"))
    // -q 30: mapq >= 30 (u1 has mapq 0, s1 mapq 10)
    assert(viewNames("-q", "30") == Set("p1", "p2"))
  }

  test("view -f/-F keep exactly the records whose written flag has all/none of the bits") {
    import graft.core.GenomicDataset
    import graft.model.Alignment
    import graft.sources.{AlignmentGen, SamIO}
    import spark.implicits._
    // every third record leaves some flag fields unset
    val recs = AlignmentGen.batch(200, seed = 3L).zipWithIndex.map { case (r, i) =>
      if (i % 3 == 0)
        r.copy(readMapped = None, mateMapped = None, readInFragment = None, duplicateRead = None)
      else r
    }
    val in = tmpDir() + "/g.parquet"
    GenomicDataset(spark.createDataset(recs), AlignmentGen.meta).saveAsParquet(in)
    def kept(filter: String, n: Int): Set[Int] = {
      val out = tmpDir() + "/v.parquet"
      Cli.run(spark, Seq("view", in, out, filter, n.toString))
      GenomicDataset.loadParquet[Alignment](spark, out).ds.collect()
        .map(AlignmentGen.index).toSet
    }
    val flags = recs.map(r => AlignmentGen.index(r) -> SamIO.flagOf(r))
    (SamIO.FlagTable.map(_.bit) ++ Seq(0x41, 0x81, 0x28, 0x900)).foreach { n =>
      assert(kept("-f", n) == flags.collect { case (i, f) if (f & n) == n => i }.toSet, s"-f $n")
      assert(kept("-F", n) == flags.collect { case (i, f) if (f & n) == 0 => i }.toSet, s"-F $n")
    }
  }

  test("view -c prints the count; stdout prints SAM with header") {
    val in = fixture("vc.sam", viewSam)
    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      Cli.run(spark, Seq("view", in, "-f", "1", "-c"))
    }
    assert(outBuf.toString.trim == "2")
    val outBuf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf2)) {
      Cli.run(spark, Seq("view", in, "-F", "4"))
    }
    val lines = outBuf2.toString.split("\n")
    assert(lines.exists(_.startsWith("@SQ")), "SAM header expected on stdout")
    assert(lines.count(l => l.nonEmpty && !l.startsWith("@")) == 3)
  }

  test("print dumps parquet records as JSON (plain and -pretty, -o file)") {
    val in = fixture("pr.sam", sam)
    val pq = tmpDir() + "/pr.parquet"
    Cli.run(spark, Seq("transformAlignments", in, pq))
    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      Cli.run(spark, Seq("print", pq))
    }
    val lines = outBuf.toString.split("\n").filter(_.nonEmpty)
    assert(lines.length == 3)
    assert(lines.forall(l => l.startsWith("{") && l.contains("\"readName\"")))
    // -o writes a local file; -pretty multi-lines each record
    val f = tmpDir() + "/dump.json"
    Cli.run(spark, Seq("print", pq, "-o", f, "-pretty"))
    val dumped = Files.readString(Paths.get(f))
    assert(dumped.count(_ == '{') >= 3 && dumped.contains("\n  "))
  }

  test("countKmers writes k-mer counts") {
    val in = fixture("k.sam", sam)
    val out = tmpDir() + "/kmers.parquet"
    Cli.run(spark, Seq("countKmers", in, "4", out))
    val df = spark.read.parquet(out)
    assert(df.columns.toSet == Set("kmer", "count") && df.count() > 0)
  }

  test("coverage with -collapse writes merged depth runs") {
    val in = fixture("c.sam", sam)
    val out = tmpDir() + "/cov.parquet"
    Cli.run(spark, Seq("coverage", in, out, "-collapse"))
    val rows = spark.read.parquet(out).collect()
    assert(rows.nonEmpty)
    // a1+a2 overlap exactly: depth-2 run at [100,110)
    assert(rows.exists(r => r.getAs[Number]("count").doubleValue == 2.0))
  }

  test("transformVariants / transformGenotypes / vcf2parquet") {
    val in = fixture("v.vcf", vcf)
    val ov = tmpDir() + "/variants.parquet"
    Cli.run(spark, Seq("transformVariants", in, ov))
    assert(parquetRows(ov) == 2)
    val og = tmpDir() + "/genotypes.parquet"
    Cli.run(spark, Seq("transformGenotypes", in, og))
    assert(parquetRows(og) == 2)
    val oc = tmpDir() + "/contexts.parquet"
    Cli.run(spark, Seq("vcf2parquet", in, oc))
    assert(parquetRows(oc) == 2)
  }

  test("transformAlignments reference flags: paired fastq, read group, region, sorts, binning, layout") {
    // paired FASTQ in -> alignments with fragment indices + read group
    val fq1 = fixture("r1.fq", "@p1\nACGT\n+\nIIII\n@p2\nGGCC\n+\nFFFF\n")
    val fq2 = fixture("r2.fq", "@p1\nTTAA\n+\nIIII\n@p2\nCCAA\n+\nFFFF\n")
    val op = tmpDir() + "/paired.parquet"
    Cli.run(spark, Seq("transformAlignments", fq1, op,
      "-paired_fastq", fq2, "-read_group", "rgX"))
    val rows = spark.read.parquet(op).collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[String]("readGroupId") == "rgX"))
    assert(rows.count(r => r.getAs[Int]("readInFragment") == 1) == 2)
    // empty -read_group derives from the input basename
    val ob = tmpDir() + "/basename.parquet"
    Cli.run(spark, Seq("transformAlignments", fq1, ob, "-read_group", ""))
    assert(spark.read.parquet(ob).collect()
      .forall(_.getAs[String]("readGroupId") == "r1"))
    // region predicate + read-name sort + coalesce + partitioned layout
    val in = fixture("ta.sam", sam)
    val o2 = tmpDir() + "/region.parquet"
    Cli.run(spark, Seq("transformAlignments", in, o2,
      "-region_predicate", "chr1:100-120", "-sort_by_read_name",
      "-coalesce", "1"))
    val names = spark.read.parquet(o2).collect()
      .map(_.getAs[String]("readName"))
    assert(names.toSeq == Seq("a1", "a2"), "a3 at 301 filtered; name order")
    val o3 = tmpDir() + "/bypos.parquet"
    Cli.run(spark, Seq("transformAlignments", in, o3,
      "-partition_by_start_pos", "-partition_bin_size", "100",
      "-bin_quality_scores", "0,20,10;20,60,37"))
    assert(new java.io.File(o3).listFiles()
      .exists(_.getName.startsWith("referenceName=")))
    val quals = spark.read.parquet(o3).collect()
      .flatMap(r => Option(r.getAs[String]("qualityScores"))).mkString
    // all input quals (I=40, F=37) rebin to 37
    assert(quals.toSet == Set(('!' + 37).toChar))
    // conflicting sort flags rejected
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("transformAlignments", in, tmpDir() + "/x.parquet",
        "-sort", "-sort_by_read_name"))
    }
  }

  test("transformAlignments: valued flags before the positional paths") {
    // the reference adam-cli accepts options anywhere; a valued flag
    // placed first must not bind its value as the input/output path
    val fq1 = fixture("pre.fq", "@p1\nACGT\n+\nIIII\n")
    val out = tmpDir() + "/pre.parquet"
    Cli.run(spark, Seq("transformAlignments",
      "-read_group", "rgPre", fq1, out))
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 1)
    assert(rows.forall(_.getAs[String]("readGroupId") == "rgPre"))
    // missing paths fail fast instead of doing wrong file I/O
    val e = intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("transformAlignments", "-read_group", "rg1", fq1))
    }
    assert(e.getMessage.contains("<in> <out>"))
    // a valued flag at the end without its value fails fast too
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("transformAlignments", fq1, out, "-read_group"))
    }
  }

  test("transformVariants reference flag surface: sort/single/partition/stringency") {
    // one malformed record (bad POS): STRICT fails, LENIENT skips it
    val dirty = vcf + "chr1\toops\t.\tA\tT\t10\tPASS\tDP=1\tGT\t0/1\n"
    val in = fixture("dirty.vcf", dirty)
    intercept[Exception] {
      Cli.run(spark, Seq("transformVariants", in, tmpDir() + "/boom.parquet"))
    }
    // VCF -> single-file VCF, lexicographic sort, coalesce 1
    val ovcf = tmpDir() + "/rt.vcf"
    Cli.run(spark, Seq("transformVariants", in, ovcf,
      "-stringency", "LENIENT", "-sort_lexicographically_on_save",
      "-coalesce", "1", "-single"))
    val body = Files.readAllLines(Paths.get(ovcf)).stream()
      .filter(l => !l.startsWith("#")).toArray.map(_.toString)
    assert(body.length == 2 && body(0).startsWith("chr1\t101"))
    // VCF -> Hive-partitioned parquet with a custom bin size
    val opart = tmpDir() + "/vpart.parquet"
    Cli.run(spark, Seq("transformVariants", in, opart,
      "-stringency", "SILENT", "-partition_by_start_pos",
      "-partition_bin_size", "100"))
    assert(new java.io.File(opart).listFiles()
      .exists(_.getName.startsWith("referenceName=")))
    assert(parquetRows(opart) == 2)
    // conflicting sort flags rejected
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("transformVariants", in, tmpDir() + "/x.parquet",
        "-sort_on_save", "-sort_lexicographically_on_save"))
    }
  }

  test("transformGenotypes strips nested annotations unless -nested_annotations") {
    val in = fixture("g.vcf", vcf)
    val bare = tmpDir() + "/g_bare.parquet"
    Cli.run(spark, Seq("transformGenotypes", in, bare))
    val nested = tmpDir() + "/g_nested.parquet"
    Cli.run(spark, Seq("transformGenotypes", in, nested, "-nested_annotations"))
    import org.apache.spark.sql.functions.{col, map_keys, size => fsize}
    val bareAnn = spark.read.parquet(bare)
      .select(fsize(map_keys(col("variant.annotation")))).collect().map(_.getInt(0))
    val nestedAnn = spark.read.parquet(nested)
      .select(fsize(map_keys(col("variant.annotation")))).collect().map(_.getInt(0))
    assert(bareAnn.forall(_ == 0), "default must strip variant.annotation")
    assert(nestedAnn.forall(_ > 0), "-nested_annotations must keep the INFO map")
    // genotype -> VCF out derives the sample column from the data
    val ovcf = tmpDir() + "/g_rt.vcf"
    Cli.run(spark, Seq("transformGenotypes", in, ovcf, "-single"))
    val header = Files.readAllLines(Paths.get(ovcf)).stream()
      .filter(l => l.startsWith("#CHROM")).toArray.map(_.toString)
    assert(header.head.endsWith("s1"))
  }

  test("mergeShards concatenates part files") {
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "part-00000"), "one\n")
    Files.writeString(Paths.get(dir, "part-00001"), "two\n")
    val out = dir + ".merged"
    Cli.run(spark, Seq("mergeShards", dir, out))
    assert(Files.readString(Paths.get(out)) == "one\ntwo\n")
  }

  test("countSliceKmers over FASTA") {
    val in = fixture("s.fa", fasta)
    val out = tmpDir() + "/skmers.parquet"
    Cli.run(spark, Seq("countSliceKmers", in, "4", out))
    val df = spark.read.parquet(out)
    // ACGT repeated: 4 distinct 4-mers (ACGT CGTA GTAC TACG)
    assert(df.count() == 4)
  }

  test("transformSequences FASTA -> parquet -> FASTA") {
    val in = fixture("t.fa", fasta)
    val outP = tmpDir() + "/seq.parquet"
    Cli.run(spark, Seq("transformSequences", in, outP))
    assert(parquetRows(outP) == 1)
    val outF = tmpDir() + "/seq.fasta"
    Cli.run(spark, Seq("transformSequences", outP, outF))
    val txt = spark.read.textFile(outF).collect().mkString("\n")
    assert(txt.contains(">chr1") && txt.contains("ACGT"))
  }

  test("transformSlices FASTA -> parquet") {
    val in = fixture("sl.fa", fasta)
    val out = tmpDir() + "/slices.parquet"
    Cli.run(spark, Seq("transformSlices", in, out))
    assert(parquetRows(out) >= 1)
  }

  test("transformFragments with -mark_duplicates") {
    val in = fixture("fr.sam", sam)
    val out = tmpDir() + "/frags.parquet"
    Cli.run(spark, Seq("transformFragments", in, out, "-mark_duplicates"))
    assert(parquetRows(out) == 3)
  }

  test("adam2fastq writes reads") {
    val in = fixture("fq.sam", sam)
    val out = tmpDir() + "/reads.fastq"
    Cli.run(spark, Seq("adam2fastq", in, out))
    val txt = spark.read.textFile(out).collect()
    assert(txt.count(_.startsWith("@a")) == 3)
  }

  test("dedup command: exact and winnowing methods keep cluster minima") {
    import spark.implicits._
    val body = "a long enough stretch of shared text to fingerprint " * 3
    val in = tmpDir() + "/docs.parquet"
    (Seq((1L, body), (2L, body), (3L, "something else entirely " * 5))
      ++ Seq((4L, body + " trailing difference")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)

    val outE = tmpDir() + "/dedup_exact.parquet"
    Cli.run(spark, Seq("dedup", in, outE)) // default exact
    assert(spark.read.parquet(outE).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))

    val outW = tmpDir() + "/dedup_win.parquet"
    Cli.run(spark, Seq("dedup", in, outW, "-method", "winnowing"))
    // 1,2,4 share >= 5 winnowing fingerprints -> one cluster, min id kept
    assert(spark.read.parquet(outW).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    spark.catalog.clearCache()
  }

  test("lpa / nbRoute / mmr commands write the expected shapes") {
    import spark.implicits._
    // lpa: two cliques + bridge -> 2 communities
    def clique(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a != b) yield (a, b)
    val edges = clique(Seq(1L, 2L, 3L)) ++ clique(Seq(7L, 8L, 9L)) ++
      Seq((3L, 7L), (7L, 3L))
    val ein = tmpDir() + "/edges.parquet"
    edges.toDF("src", "dst").write.mode("overwrite").parquet(ein)
    val eout = tmpDir() + "/comm.parquet"
    Cli.run(spark, Seq("lpa", ein, eout, "-rounds", "4", "-top", "10"))
    val comm = spark.read.parquet(eout).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(comm.map(_._2).sum == 6L && comm.length == 2)

    // nbRoute: confusion on a tiny en/de corpus
    val din = tmpDir() + "/nbtrain.parquet"
    val tin = tmpDir() + "/nbtest.parquet"
    Seq((1L, "en", "the cat and the dog"), (2L, "de", "der hund und die katze"))
      .toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(din)
    Seq((3L, "en", "the dog and the cat"), (4L, "de", "die katze und der hund"))
      .toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(tin)
    val nout = tmpDir() + "/conf.parquet"
    Cli.run(spark, Seq("nbRoute", din, tin, nout, "-buckets", "64",
      "-confusion"))
    val conf = spark.read.parquet(nout).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(conf == Map(("en", "en") -> 1L, ("de", "de") -> 1L))

    // mmr: picks k diversified rows against the query embedding
    val min = tmpDir() + "/emb.parquet"
    val rnd = new scala.util.Random(3)
    (0L until 20L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(min)
    val mout = tmpDir() + "/mmr.parquet"
    Cli.run(spark, Seq("mmr", min, mout, "-k", "5", "-cands", "19"))
    val picks = spark.read.parquet(mout).collect()
    assert(picks.length == 5)
    assert(picks.map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
    spark.catalog.clearCache()
  }

  test("dedupSplit / phrase commands") {
    import spark.implicits._
    val body = "a long enough stretch of shared text to fingerprint " * 4
    val din = tmpDir() + "/ds_docs.parquet"
    ((1L to 40L).map(i => (i, s"unique doc $i with words w$i x$i y$i z$i " +
      s"filler${i % 7} more${i % 5} text${i % 3}")) ++
      Seq((100L, body), (101L, body + " tail")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(din)
    val dout = tmpDir() + "/ds_out.parquet"
    Cli.run(spark, Seq("dedupSplit", din, dout,
      "-fractions", "train=0.5,test=0.5"))
    val rows = spark.read.parquet(dout).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(rows.size == 42)
    assert(rows(100L) == rows(101L), "near-dup pair must share a split")

    val pout = tmpDir() + "/ph_out.parquet"
    Cli.run(spark, Seq("phrase", din, pout, "-words", "shared text"))
    val hits = spark.read.parquet(pout).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(100L, 101L) && hits(100L) == 4L)
    spark.catalog.clearCache()
  }

  test("snapshotDelta / budgetSelect / calibrate / boilerplate commands") {
    import spark.implicits._
    val oldIn = tmpDir() + "/snap_old.parquet"
    val newIn = tmpDir() + "/snap_new.parquet"
    Seq((1L, "keep", "s"), (2L, "edit me", "s"))
      .toDF("doc_id", "text", "source").write.parquet(oldIn)
    Seq((2L, "edited", "s"), (3L, "fresh", "s"))
      .toDF("doc_id", "text", "source").write.parquet(newIn)
    val dOut = tmpDir() + "/delta.parquet"
    Cli.run(spark, Seq("snapshotDelta", oldIn, newIn, dOut,
      "-carry", "source"))
    val statuses = spark.read.parquet(dOut).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(statuses == Map(1L -> "deleted", 2L -> "changed", 3L -> "added"))
    val rOut = tmpDir() + "/delta_report.parquet"
    Cli.run(spark, Seq("snapshotDelta", oldIn, newIn, rOut,
      "-carry", "source", "-report"))
    assert(spark.read.parquet(rOut).count() == 1)

    val bIn = tmpDir() + "/budget_in.parquet"
    (1L to 10L).map(i => (i, i % 3, 10L)).toDF("doc_id", "score", "tokens")
      .write.parquet(bIn)
    val bOut = tmpDir() + "/budget_out.parquet"
    Cli.run(spark, Seq("budgetSelect", bIn, bOut, "-budget", "40"))
    assert(spark.read.parquet(bOut)
      .filter(col("selected")).count() == 4)

    val cOut = tmpDir() + "/cal_out.parquet"
    (1L to 20L).map(i => (i, s"s${i % 2}", (i * 7 % 13).toInt))
      .toDF("doc_id", "source", "score").write.parquet(cOut + ".in")
    Cli.run(spark, Seq("calibrate", cOut + ".in", cOut, "-keep", "0.5"))
    assert(spark.read.parquet(cOut).filter(col("selected")).count() == 10)

    val plIn = tmpDir() + "/bp_in.parquet"
    (1L to 4L).map(i => (i, "s", s"FOOT\n\nbody $i"))
      .toDF("doc_id", "source", "text").write.parquet(plIn)
    val plOut = tmpDir() + "/bp_out.parquet"
    Cli.run(spark, Seq("boilerplate", plIn, plOut, "-minDocs", "3"))
    assert(spark.read.parquet(plOut).collect()
      .forall(_.getAs[Long]("n_removed_paras") == 1L))
    spark.catalog.clearCache()
  }

  test("nextEvents command writes history examples") {
    import spark.implicits._
    val in = tmpDir() + "/ne_in.parquet"
    Seq((1L, "a", 10L, 1L), (1L, "b", 20L, 2L))
      .toDF("user_id", "event_type", "ms", "event_id")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .write.parquet(in)
    val out = tmpDir() + "/ne_out.parquet"
    Cli.run(spark, Seq("nextEvents", in, out, "-history", "2"))
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("label") -> r.getAs[String]("history")).toMap
    assert(got == Map("a" -> "", "b" -> "a"))
  }

  test("score command appends quality columns") {
    import spark.implicits._
    val in = tmpDir() + "/score_docs.parquet"
    Seq((1L, ("the be to of and that have with words here " * 8).trim))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val out = tmpDir() + "/scored.parquet"
    Cli.run(spark, Seq("score", in, out))
    val row = spark.read.parquet(out).collect().head
    val sch = spark.read.parquet(out).schema.fieldNames.toSet
    assert(Set("gopher_keep", "pred_lang", "n_tokens", "rule_word_count")
      .subsetOf(sch))
    assert(row.getAs[Int]("n_tokens") == 80)
  }

  test("extractText command rewrites an html column to text") {
    import spark.implicits._
    val in = tmpDir() + "/pages.parquet"
    Seq((1L, "<html><body><p>hello &amp; bye</p><script>x</script></body></html>"))
      .toDF("doc_id", "html").write.mode("overwrite").parquet(in)
    val out = tmpDir() + "/pages_text.parquet"
    Cli.run(spark, Seq("extractText", in, out))
    val row = spark.read.parquet(out).collect().head
    assert(row.getAs[String]("text") == "hello & bye")
  }

  test("split command assigns deterministic named splits") {
    import spark.implicits._
    val in = tmpDir() + "/docs.parquet"
    (1L to 200L).toDF("doc_id").write.mode("overwrite").parquet(in)
    val out = tmpDir() + "/split.parquet"
    Cli.run(spark, Seq("split", in, out,
      "-fractions", "train=0.8,val=0.2", "-salt", "s"))
    val got = spark.read.parquet(out)
    assert(got.count() == 200L)
    val names = got.select("split").distinct().collect()
      .map(_.getString(0)).toSet
    assert(names.subsetOf(Set("train", "val")) && names.contains("train"))
    // re-run is byte-identical (deterministic hash assignment)
    val out2 = tmpDir() + "/split2.parquet"
    Cli.run(spark, Seq("split", in, out2,
      "-fractions", "train=0.8,val=0.2", "-salt", "s"))
    assert(spark.read.parquet(out2).collect().map(_.toString).sorted.toSeq ==
      got.collect().map(_.toString).sorted.toSeq)
  }

  test("mix command down-samples to a temperature mixture") {
    import spark.implicits._
    val in = tmpDir() + "/mixdocs.parquet"
    ((1L to 400L).map((_, "en")) ++ (401L to 500L).map((_, "fr")))
      .toDF("doc_id", "lang").write.mode("overwrite").parquet(in)
    val out = tmpDir() + "/mixed.parquet"
    Cli.run(spark, Seq("mix", in, out, "-alpha", "0.5", "-target", "250"))
    val counts = spark.read.parquet(out).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // sqrt weights: en 2/3, fr 1/3 of 250 expected — just sanity-band it
    assert(counts("en") > counts.getOrElse("fr", 0L))
    assert(counts.values.sum < 400L)
  }

  test("decontaminate command writes the overlap report") {
    import spark.implicits._
    val corpus = tmpDir() + "/corpus.parquet"
    Seq((1L, "quick brown fox jumps over"), (2L, "unrelated words entirely here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpus)
    val bench = tmpDir() + "/bench.parquet"
    Seq("the quick brown fox jumps over the lazy dog").toDF("text")
      .write.mode("overwrite").parquet(bench)
    val out = tmpDir() + "/report.parquet"
    Cli.run(spark, Seq("decontaminate", corpus, bench, out,
      "-n", "3", "-maxFrac", "0.5"))
    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    assert(got(1L) == ((3L, 3L, true)))
    assert(got(2L)._2 == 0L && !got(2L)._3)
  }

  test("urlDedup command groups canonical forms") {
    import spark.implicits._
    val in = tmpDir() + "/urls.parquet"
    Seq((5L, "http://WWW.a.com/x/"), (9L, "http://a.com:80/x#frag"),
      (2L, "https://b.com/y"))
      .toDF("doc_id", "url").write.mode("overwrite").parquet(in)
    val out = tmpDir() + "/urls_dedup.parquet"
    Cli.run(spark, Seq("urlDedup", in, out))
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_dups"))).toSet
    assert(got == Set(("http://a.com/x", 5L, 2L), ("https://b.com/y", 2L, 1L)))
  }

  test("lineDedup command strips cross-doc boilerplate lines") {
    import spark.implicits._
    val in = tmpDir() + "/ld.parquet"
    Seq((1L, "body one\nfooter"), (2L, "body two\nfooter"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val out = tmpDir() + "/ld_out.parquet"
    Cli.run(spark, Seq("lineDedup", in, out, "-minDocs", "2"))
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("cleaned_text"))
      .toMap
    assert(got == Map(1L -> "body one", 2L -> "body two"))
  }

  test("chunk command windows text with stride") {
    import spark.implicits._
    val in = tmpDir() + "/ch.parquet"
    Seq((1L, "abcdefgh")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(in)
    val out = tmpDir() + "/ch_out.parquet"
    Cli.run(spark, Seq("chunk", in, out, "-size", "5", "-stride", "3"))
    val got = spark.read.parquet(out).orderBy("chunk_id").collect()
      .map(_.getAs[String]("chunk_text")).toSeq
    assert(got == Seq("abcde", "defgh"))
  }

  private def eventsFixture(): String = {
    import spark.implicits._
    val in = tmpDir() + "/ev.parquet"
    Seq((1L, 1L, "a", 10L, 1.0), (1L, 2L, "b", 20L, 2.0),
      (2L, 3L, "a", 5L, 3.0), (2L, 4L, "a", 6L, 4.0))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(in)
    in
  }

  test("transitions and percentiles commands run on an events fixture") {
    val in = eventsFixture()
    val tOut = tmpDir() + "/trans.parquet"
    Cli.run(spark, Seq("transitions", in, tOut))
    val trans = spark.read.parquet(tOut).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(trans == Map(("a", "b") -> 1L, ("a", "a") -> 1L))
    val pOut = tmpDir() + "/pct.parquet"
    Cli.run(spark, Seq("percentiles", in, pOut,
      "-group", "event_type", "-ps", "0.5"))
    val p = spark.read.parquet(pOut).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(p == Map("a" -> 3.0, "b" -> 2.0))
  }

  test("transitionLatency command writes per-transition latency percentiles") {
    val out = tmpDir() + "/lat.parquet"
    Cli.run(spark, Seq("transitionLatency", eventsFixture(), out))
    val lat = spark.read.parquet(out)
    assert(lat.columns.toSeq == Seq("transition", "n", "p50", "p90", "p99"))
    val n = lat.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == Map("a->b" -> 1L, "a->a" -> 1L))
  }

  test("ntile and skewReport commands") {
    import spark.implicits._
    val in = tmpDir() + "/nt_in.parquet"
    (1L to 20L).map(i => (i, i % 5)).toDF("doc_id", "tokens")
      .write.parquet(in)
    val out = tmpDir() + "/nt_out.parquet"
    Cli.run(spark, Seq("ntile", in, out, "-by", "tokens", "-n", "4"))
    val buckets = spark.read.parquet(out).groupBy("bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(buckets == Map(1 -> 5L, 2 -> 5L, 3 -> 5L, 4 -> 5L))

    val skOut = tmpDir() + "/sk_out.parquet"
    Cli.run(spark, Seq("skewReport", in, "-key", "tokens", "-top", "2",
      "-out", skOut))
    val rep = spark.read.parquet(skOut).collect()
    assert(rep.length == 2 && rep.forall(_.getAs[Long]("n") == 4L))
  }

  test("corpus-compare commands: sourceNovelty, sourceSim, chi2") {
    import spark.implicits._
    val in = tmpDir() + "/cc_in.parquet"
    Seq((1L, "a", "alpha beta"), (2L, "a", "alpha beta"),
      (3L, "b", "alpha beta"), (4L, "b", "gamma delta"))
      .toDF("doc_id", "source", "text").write.parquet(in)
    val nOut = tmpDir() + "/cc_nov.parquet"
    Cli.run(spark, Seq("sourceNovelty", in, nOut))
    val nov = spark.read.parquet(nOut).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(nov == Map("a" -> 1L, "b" -> 1L))

    val sOut = tmpDir() + "/cc_sim.parquet"
    Cli.run(spark, Seq("sourceSim", in, sOut))
    assert(spark.read.parquet(sOut).count() == 1L)

    val cOut = tmpDir() + "/cc_chi.parquet"
    Cli.run(spark, Seq("chi2", in, cOut, "-top", "4"))
    assert(spark.read.parquet(cOut).count() == 4L)
  }

  test("rrf and gini commands") {
    import spark.implicits._
    val aP = tmpDir() + "/rrf_a.parquet"
    val bP = tmpDir() + "/rrf_b.parquet"
    Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rank").write.parquet(aP)
    Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "rank").write.parquet(bP)
    val fOut = tmpDir() + "/rrf_out.parquet"
    Cli.run(spark, Seq("rrf", aP, bP, fOut, "-top", "3"))
    val fused = spark.read.parquet(fOut).collect().map(_.getLong(0)).toSeq
    assert(fused == Seq(2L, 1L, 3L))

    val gIn = tmpDir() + "/gini_in.parquet"
    Seq(("s", 1L, 5L), ("s", 2L, 5L)).toDF("source", "doc_id", "tokens")
      .write.parquet(gIn)
    val gOut = tmpDir() + "/gini_out.parquet"
    Cli.run(spark, Seq("gini", gIn, gOut))
    assert(spark.read.parquet(gOut).collect().head.getDouble(3) == 0.0)
  }

  test("kanon, trend and wilson commands") {
    import spark.implicits._
    val kIn = tmpDir() + "/ka_in.parquet"
    Seq(("a", "x"), ("a", "x"), ("a", "y")).toDF("n", "s").write.parquet(kIn)
    val kOut = tmpDir() + "/ka_out.parquet"
    Cli.run(spark, Seq("kanon", kIn, kOut, "-cols", "n,s", "-k", "2"))
    assert(spark.read.parquet(kOut).collect().head
      .getAs[Long]("n_rows_at_risk") == 1L)

    val tIn = tmpDir() + "/tr_in.parquet"
    (1L to 5L).map(x => ("g", x, 2 * x)).toDF("event_type", "day", "n")
      .write.parquet(tIn)
    val tOut = tmpDir() + "/tr_out.parquet"
    Cli.run(spark, Seq("trend", tIn, tOut))
    assert(spark.read.parquet(tOut).collect().head
      .getAs[Double]("slope") == 2.0)

    val wIn = tmpDir() + "/wi_in.parquet"
    Seq(("s", true), ("s", false)).toDF("source", "pass").write.parquet(wIn)
    val wOut = tmpDir() + "/wi_out.parquet"
    Cli.run(spark, Seq("wilson", wIn, wOut))
    val w = spark.read.parquet(wOut).collect().head
    assert(w.getAs[Long]("n_pass") == 1L &&
      w.getAs[Double]("wilson_lb") > 0.0 &&
      w.getAs[Double]("wilson_lb") < 0.5)
  }

  test("profile command defaults to all columns") {
    import spark.implicits._
    val in = tmpDir() + "/pf_in.parquet"
    Seq((1L, "a"), (2L, "a"), (3L, " ")).toDF("id", "s").write.parquet(in)
    val out = tmpDir() + "/pf_out.parquet"
    Cli.run(spark, Seq("profile", in, out))
    val got = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got == Map("id" -> ((3L, 0L)), "s" -> ((2L, 1L))))
  }

  test("fkAudit, pkAudit and calibration commands") {
    import spark.implicits._
    val cP = tmpDir() + "/fk_child.parquet"
    val pP = tmpDir() + "/fk_parent.parquet"
    Seq(1L, 2L, 9L).toDF("k").write.parquet(cP)
    Seq(1L, 2L).toDF("k").write.parquet(pP)
    val fOut = tmpDir() + "/fk_out.parquet"
    Cli.run(spark, Seq("fkAudit", cP, pP, fOut,
      "-childKey", "k", "-parentKey", "k"))
    assert(spark.read.parquet(fOut).collect().head
      .getAs[Long]("n_orphans") == 1L)

    val pkOut = tmpDir() + "/pk_out.parquet"
    Seq(1L, 1L, 2L).toDF("k").write.parquet(pkOut + ".in")
    Cli.run(spark, Seq("pkAudit", pkOut + ".in", pkOut, "-cols", "k"))
    assert(spark.read.parquet(pkOut).collect().head
      .getAs[Long]("n_dup_rows") == 2L)

    val cbIn = tmpDir() + "/cb_in.parquet"
    (1L to 20L).map(i => (i, i.toDouble, i > 10))
      .toDF("id", "score", "pos").write.parquet(cbIn)
    val cbOut = tmpDir() + "/cb_out.parquet"
    Cli.run(spark, Seq("calibration", cbIn, cbOut, "-n", "2"))
    val rates = spark.read.parquet(cbOut).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(rates == Map(1 -> 0.0, 2 -> 1.0))
  }

  test("actives and anomalies commands") {
    import spark.implicits._
    val aIn = tmpDir() + "/ac_in.parquet"
    Seq((1L, 0L), (2L, 0L), (1L, 86400000L))
      .toDF("user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .write.parquet(aIn)
    val aOut = tmpDir() + "/ac_out.parquet"
    Cli.run(spark, Seq("actives", aIn, aOut))
    val act = spark.read.parquet(aOut).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(act == Map(0L -> ((2L, 2L)), 1L -> ((1L, 2L))))

    val nIn = tmpDir() + "/an_in.parquet"
    ((1L to 6L).map(d => ("a", d, 5L)) :+ ("a", 7L, 500L))
      .toDF("event_type", "day", "n").write.parquet(nIn)
    val nOut = tmpDir() + "/an_out.parquet"
    Cli.run(spark, Seq("anomalies", nIn, nOut))
    val fl = spark.read.parquet(nOut).collect()
      .map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    assert(fl(7L) && !fl(6L))
  }

  test("pctRank, horizonDedup, hashSample and paddingWaste commands") {
    import spark.implicits._
    val pIn = tmpDir() + "/pr_in.parquet"
    Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 5L))
      .toDF("source", "id", "score").write.parquet(pIn)
    val pOut = tmpDir() + "/pr_out.parquet"
    Cli.run(spark, Seq("pctRank", pIn, pOut))
    val pr = spark.read.parquet(pOut).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("pct_rank")).toMap
    assert(pr == Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0))

    val hIn = tmpDir() + "/hd_in.parquet"
    Seq(("k", 0L, 1L), ("k", 500L, 2L), ("k", 5000L, 3L))
      .toDF("key", "ms", "event_id")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .write.parquet(hIn)
    val hOut = tmpDir() + "/hd_out.parquet"
    Cli.run(spark, Seq("horizonDedup", hIn, hOut, "-horizon", "1000"))
    val fr = spark.read.parquet(hOut).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Boolean]("fresh"))
      .toMap
    assert(fr == Map(1L -> true, 2L -> false, 3L -> true))

    val sIn = tmpDir() + "/hs_in.parquet"
    (1L to 100L).map(i => (s"s${i % 2}", i)).toDF("source", "doc_id")
      .write.parquet(sIn)
    val sOut = tmpDir() + "/hs_out.parquet"
    Cli.run(spark, Seq("hashSample", sIn, sOut, "-n", "10"))
    val hs = spark.read.parquet(sOut).collect()
    assert(hs.length == 20 && hs.map(_.getString(0)).distinct.length == 2)

    val wIn = tmpDir() + "/pw_in.parquet"
    Seq(100L, 600L, 9000L).toDF("n_chars").write.parquet(wIn)
    val wOut = tmpDir() + "/pw_out.parquet"
    Cli.run(spark, Seq("paddingWaste", wIn, wOut))
    val pw = spark.read.parquet(wOut).collect()
      .map(r => r.getAs[Long]("capacity") ->
        (r.getAs[Long]("padded_units"), r.getAs[Long]("truncated_units")))
      .toMap
    assert(pw == Map(512L -> ((412L, 0L)), 1024L -> ((424L, 0L)),
      4096L -> ((0L, 4904L))))
  }

  test("zorder command rewrites clustered parquet") {
    import spark.implicits._
    val in = tmpDir() + "/zin.parquet"
    (1L to 1000L).map(i => (i % 37, i % 53)).toDF("a", "b")
      .write.mode("overwrite").parquet(in)
    val out = tmpDir() + "/zout.parquet"
    Cli.run(spark, Seq("zorder", in, out, "-cols", "a,b", "-files", "4",
      "-bits", "6"))
    assert(spark.read.parquet(out).count() == 1000L)
  }
  test("statistics and QC commands write their documented columns") {
    import spark.implicits._
    def table(df: org.apache.spark.sql.DataFrame): String = {
      val p = tmpDir() + "/in.parquet"
      df.write.parquet(p)
      p
    }
    val stats = table(Seq(("a", 1L, 1L), ("a", 4L, 2L), ("b", 5L, 3L))
      .toDF("g", "v", "t"))
    val gts = table(Seq(("s1", 1L, 0), ("s2", 1L, 1), ("s1", 2L, 2),
      ("s2", 2L, 1)).toDF("s", "site", "gt"))
    val alleles = table(Seq(("A", "T"), ("C", "CTT"), ("GA", "G"))
      .toDF("referenceAllele", "alternateAllele"))
    val labels = table(Seq(("x", "x", 900L, true, 10L),
      ("x", "y", 300L, false, 40L), ("y", "y", 800L, true, 20L))
      .toDF("given", "pred", "conf", "ok", "score"))
    val groupValue = Seq("-group", "g", "-value", "v")
    val cases = Seq(
      Seq("atkinson", stats) ++ groupValue -> Seq("g", "n", "atkinson"),
      Seq("mad", stats, "-tie", "t") ++ groupValue ->
        Seq("g", "n", "median", "mad"),
      Seq("trimmedMean", stats, "-tie", "t") ++ groupValue ->
        Seq("g", "n", "n_kept", "trimmed_mean"),
      Seq("callRate", gts, "-sample", "s", "-gt", "gt") ->
        Seq("s", "n_total", "n_called", "n_het", "n_hom_ref", "n_hom_alt",
          "n_other", "call_rate_permille", "het_permille"),
      Seq("inbreeding", gts, "-sample", "s", "-site", "site", "-gt", "gt") ->
        Seq("s", "n_called", "n_het", "exp_het", "f"),
      Seq("kinship", gts, "-sample", "s", "-site", "site", "-gt", "gt") ->
        Seq("sample_i", "sample_j", "n_shared", "n_both_het", "n_opp_hom",
          "n_het_i", "n_het_j", "kinship"),
      Seq("subMatrix", alleles) ->
        Seq("ref_allele", "alt_allele", "n", "permille"),
      Seq("indelSpectrum", alleles, "-maxLen", "5") ->
        Seq("dlen", "n_indels"),
      Seq("calibrationBins", labels, "-conf", "conf", "-correct", "ok") ->
        Seq("bin", "n", "conf_permille", "acc_permille", "gap_permille",
          "ece_permille"),
      Seq("confidentLearning", labels, "-given", "given", "-pred", "pred",
        "-conf", "conf") -> Seq("given_label", "pred_label", "n",
          "n_confident"),
      Seq("conformal", labels, labels, "-score", "score") ->
        Seq("n_cal", "threshold", "n_eval", "n_covered", "coverage_permille"))
    cases.foreach { case (args, columns) =>
      val out = tmpDir() + s"/${args.head}.parquet"
      Cli.run(spark, args :+ out)
      val got = spark.read.parquet(out)
      assert(got.columns.toSeq == columns, args.head)
      assert(got.count() > 0, args.head)
    }
  }
}
