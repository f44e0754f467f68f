package graft.tools

import org.apache.spark.sql.{Encoders, SparkSession}
import graft.algorithms.{Bqsr, MdTagging, RealignIndels}
import graft.api.Conversions
import graft.core.{GenomicDataset, ReferenceContigs}
import graft.model._
import graft.operators.{AlignmentOps, CoverageOps}
import graft.sources._

/** Command-line surface mirroring the reference's adam-cli
  * (adam-cli/.../ADAMMain.scala:30-62; the transformAlignments stage chain
  * TransformAlignments.scala:438-473). Every stage here is a Dataset
  * transformation, so a full command compiles to ONE Catalyst plan plus
  * the typed algorithm stages (SURVEY.md §3.1 "ours" paragraph).
  *
  * Usage:
  *   graft.tools.Cli transformAlignments <in> <out> [flags]
  *     flags: -mark_duplicates | -sort | -md_tag ref.fa|ref.2bit |
  *            -realign ref.fa | -recalibrate | -bin_qualities |
  *            -single
  *   graft.tools.Cli transformFeatures <in> <out>
  *   graft.tools.Cli flagstat <in>
  *   graft.tools.Cli countKmers <in> <k> <outParquet>
  *   graft.tools.Cli coverage <in> <outParquet> [-collapse]
  *   graft.tools.Cli transformVariants <in.vcf> <outParquet>
  *   graft.tools.Cli transformGenotypes <in.vcf> <outParquet>
  *   graft.tools.Cli mergeShards <inDir> <outFile>
  *   graft.tools.Cli view <in> [-f N] [-F N] [-g N] [-G N] [-q MINQ] [-c]
  *     [-o out] [-single]        (PRINT group: samtools-style viewer)
  *   graft.tools.Cli print <file.parquet>... [-o localFile] [-pretty]
  */
object Cli {

  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]
  private implicit val featEnc: org.apache.spark.sql.Encoder[Feature] =
    Encoders.product[Feature]
  private implicit val varEnc: org.apache.spark.sql.Encoder[Variant] =
    Encoders.product[Variant]
  private implicit val gtEnc: org.apache.spark.sql.Encoder[Genotype] =
    Encoders.product[Genotype]

  // ------------------------- loaders / savers -----------------------------

  /** Extension-dispatch alignment load (loadAlignments, AC:3643-3672). */
  def loadAlignments(spark: SparkSession, path: String): GenomicDataset[Alignment] = {
    val p = path.toLowerCase
    if (p.endsWith(".sam")) SamIO.read(spark, path)
    else if (p.endsWith(".bam")) BamIO.read(spark, path)
    else if (p.endsWith(".cram")) CramIO.read(spark, path)
    else GenomicDataset.loadParquet[Alignment](spark, path)
  }

  def saveAlignments(gd: GenomicDataset[Alignment], path: String,
      single: Boolean): Unit = {
    val p = path.toLowerCase
    if (p.endsWith(".sam")) SamIO.write(gd, path, asSingleFile = single)
    else if (p.endsWith(".bam")) BamIO.write(gd, path, asSingleFile = single)
    else if (p.endsWith(".cram")) CramIO.write(gd, path)
    else gd.saveAsParquet(path)
  }

  /** `-flag value` lookup over a command's trailing args: the value
    * following `flag`, or `dft` when absent. Shared by every CLI arm
    * (partially applied per-arm as `val fv = flagValue(rest) _`). */
  private def flagValue(rest: Seq[String])(flag: String, dft: String): String = {
    val i = rest.indexOf(flag)
    if (i >= 0 && i + 1 < rest.length) rest(i + 1) else dft
  }

  /** Parquet read + timestamp normalization for the event-shaped
    * commands: the driver testdata carries TIMESTAMP(NANOS) /
    * TIMESTAMP(MICROS, NTZ) columns that read as LongType / NTZ in
    * Spark 4 (see [[graft.core.Tables.normalizeTs]]); operators built on
    * unix_millis/windows need plain TimestampType. */
  private def readTs(spark: SparkSession, path: String,
      tsCol: String): org.apache.spark.sql.DataFrame =
    graft.core.Tables.normalizeTs(spark.read.parquet(path), tsCol)

  private def loadReference(spark: SparkSession, path: String): ReferenceContigs =
    if (path.toLowerCase.endsWith(".2bit")) TwoBit.readFile(path)
    else ReferenceContigs.fromFasta(spark, path)

  // ------------------------------ commands --------------------------------

  /** Valued flags of [[transformAlignments]] — consumed together with
    * their value token in a single scan, so options may appear anywhere
    * relative to the two positional paths (as in the reference adam-cli)
    * and a flag's value can never masquerade as an input/output path. */
  private val alignmentValuedFlags = Set(
    "-paired_fastq", "-read_group", "-concat", "-region_predicate",
    "-known_snps", "-realign", "-reference", "-log_odds_threshold",
    "-md_tag", "-add_md_tags", "-bin_quality_scores", "-repartition",
    "-coalesce", "-partition_bin_size")

  /** transformAlignments with the reference CLI's flag surface
    * (adam-cli TransformAlignments.scala). Options may appear anywhere;
    * the two non-flag tokens are the input and output paths. Pipeline
    * order mirrors the reference:
    * load (+paired fastq/read group/concat/region predicate) ->
    * mark duplicates -> recalibrate (known SNPs) -> realign -> MD tags ->
    * quality binning -> sort -> repartition/coalesce -> save. */
  def transformAlignments(spark: SparkSession, args: Seq[String]): Unit = {
    val vals = scala.collection.mutable.Map[String, String]()
    val flags = scala.collection.mutable.Set[String]()
    val pos = scala.collection.mutable.ArrayBuffer[String]()
    var ai = 0
    while (ai < args.length) {
      val a = args(ai)
      if (a.startsWith("-") && a.length > 1) {
        if (alignmentValuedFlags(a)) {
          require(ai + 1 < args.length, s"flag $a requires a value")
          vals(a) = args(ai + 1); ai += 2
        } else { flags += a; ai += 1 }
      } else { pos += a; ai += 1 }
    }
    require(pos.length == 2,
      s"transformAlignments expects exactly <in> <out> paths, got: " +
        pos.mkString("[", ", ", "]"))
    val Seq(in, out) = pos.toSeq
    def flagArg(name: String): Option[String] = vals.get(name)
    def has(names: String*): Boolean = names.exists(flags.contains)

    // ---- load: extension dispatch + FASTQ (unpaired / -paired_fastq) ----
    import spark.implicits._
    val lower = in.toLowerCase
    var gd =
      if (lower.endsWith(".fq") || lower.endsWith(".fastq") ||
          lower.endsWith(".ifq")) {
        def loadFq(p: String, frag: Int, paired: Boolean) =
          SequenceIO.readFastq(spark, p).map(r => graft.model.Alignment(
            readName = r.name, sequence = r.sequence,
            qualityScores = r.qualityScores, readMapped = Some(false),
            readPaired = Some(paired), readInFragment = Some(frag)))
        val ds = flagArg("-paired_fastq") match {
          case Some(p2) => loadFq(in, 0, paired = true)
            .unionByName(loadFq(p2, 1, paired = true))
          case None => loadFq(in, 0, paired = false)
        }
        GenomicDataset(ds, GenomicMetadata.empty)
      } else loadAlignments(spark, in)
    flagArg("-read_group").foreach { rg =>
      // empty string -> basename of the input minus extension (reference)
      val rgId = if (rg.isEmpty)
        new java.io.File(in).getName.replaceAll("\\.[^.]*$", "") else rg
      gd = gd.transform(_.map(a => a.copy(readGroupId = Some(rgId))))
    }
    flagArg("-concat").foreach { p =>
      gd = gd.union(loadAlignments(spark, p))
    }
    flagArg("-region_predicate").foreach { spec =>
      val regions = spec.split(",").toSeq.map { s =>
        val Array(name, range) = s.split(":")
        val Array(a, b) = range.split("-")
        graft.model.ReferenceRegion(name, a.toLong, b.toLong)
      }
      gd = gd.filterByOverlappingRegions(regions)
    }

    // ------------------------------ transforms ------------------------------
    if (has("-mark_duplicates", "-mark_duplicate_reads"))
      gd = gd.transform(ds =>
        AlignmentOps.markDuplicates(ds, gd.meta.readGroups))
    if (has("-recalibrate", "-recalibrate_base_qualities")) {
      val mask = flagArg("-known_snps") match {
        case Some(vcf) =>
          Bqsr.SnpMask.fromVariants(VcfIO.readVariants(spark, vcf).toDF)
        case None => Bqsr.SnpMask.empty
      }
      gd = gd.transform(ds => Bqsr(ds, mask))
    }
    flagArg("-realign").orElse(
        if (has("-realign_indels")) flagArg("-reference") else None)
      .foreach { ref =>
        val contigs = loadReference(spark, ref)
        val lod = flagArg("-log_odds_threshold").map(_.toDouble).getOrElse(5.0)
        gd = gd.transform(ds => RealignIndels(ds, contigs,
          lodThreshold = lod))
      }
    flagArg("-md_tag").orElse(flagArg("-add_md_tags")).foreach { ref =>
      val contigs = loadReference(spark, ref)
      gd = gd.transform(ds => MdTagging.tagReads(ds, contigs,
        overwrite = !flags.contains("-md_tag_keep_existing")))
    }
    // -bin_quality_scores "0,20,10;20,40,30" (reference syntax); bare
    // -bin_qualities keeps the historical default bins
    val bins = flagArg("-bin_quality_scores").map(_.split(";").toSeq.map { b =>
      val Array(lo, hi, v) = b.split(",").map(_.trim.toInt); (lo, hi, v)
    }).orElse(if (flags.contains("-bin_qualities"))
      Some(Seq((0, 20, 10), (20, 30, 25), (30, 60, 37))) else None)
    bins.foreach(b => gd = gd.transform(ds => AlignmentOps.binQualities(ds, b)))

    // ----------------------------- sort / layout ----------------------------
    require(Seq("-sort", "-sort_by_reference_position",
      "-sort_by_reference_position_and_index", "-sort_by_read_name")
      .count(flags.contains) <= 1, "conflicting sort flags")
    if (has("-sort", "-sort_by_reference_position"))
      gd = gd.sortLexicographically()
    else if (has("-sort_by_reference_position_and_index"))
      gd = gd.sortByDictionaryOrder()
    else if (has("-sort_by_read_name"))
      gd = gd.transform(_.orderBy(
        org.apache.spark.sql.functions.col("readName"),
        org.apache.spark.sql.functions.col("readInFragment")))
    flagArg("-repartition").foreach(n =>
      gd = gd.transform(_.repartition(n.toInt)))
    flagArg("-coalesce").foreach { n =>
      val k = n.toInt
      val shuffle = k > gd.ds.rdd.getNumPartitions ||
        flags.contains("-force_shuffle_coalesce")
      gd = gd.transform(ds => if (shuffle) ds.repartition(k) else ds.coalesce(k))
    }

    // --------------------------------- save ---------------------------------
    val isParquetOut = !Seq(".sam", ".bam", ".cram")
      .exists(out.toLowerCase.endsWith)
    if (isParquetOut && flags.contains("-partition_by_start_pos"))
      gd.saveAsPartitionedParquet(out,
        flagArg("-partition_bin_size").map(_.toLong).getOrElse(1000000L))
    else saveAlignments(gd, out, single = flags.contains("-single"))
    println(s"transformAlignments: wrote $out")
  }

  /** transformVariants / transformGenotypes with the reference CLI's flag
    * surface (adam-cli TransformVariants.scala / TransformGenotypes.scala):
    * -coalesce N [-force_shuffle_coalesce], -sort_on_save (contig-index
    * order) XOR -sort_lexicographically_on_save, -single (single-file VCF
    * out), -partition_by_start_pos [-partition_bin_size N] (Hive-style
    * parquet layout), -stringency SILENT|LENIENT|STRICT (lenient reads
    * skip malformed records per-row), and for genotypes
    * -nested_annotations (keep the INFO map on the nested variant —
    * stripped by default, as in the reference). Input/output format picked
    * by extension: .vcf/.vcf.gz/.vcf.bgz vs parquet. */
  private def transformVcfSide(spark: SparkSession, in: String, out: String,
      rest: Seq[String], genotypes: Boolean): Unit = {
    def has(f: String) = rest.contains(f)
    val fv = flagValue(rest) _
    require(!(has("-sort_on_save") && has("-sort_lexicographically_on_save")),
      "Cannot set both -sort_on_save and -sort_lexicographically_on_save.")
    val stringency = fv("-stringency", "STRICT")
    val cmd = if (genotypes) "transformGenotypes" else "transformVariants"
    def isVcfExt(p: String): Boolean = {
      val l = p.toLowerCase
      l.endsWith(".vcf") || l.endsWith(".vcf.gz") || l.endsWith(".vcf.bgz") ||
        l.endsWith(".vcf.bgzf")
    }
    import graft.model.{Genotype, Variant, VariantContext}
    import graft.api.Conversions

    def postProcess[T](gd0: GenomicDataset[T]): GenomicDataset[T] = {
      var gd = gd0
      val n = fv("-coalesce", "-1").toInt
      if (n != -1) {
        // reference semantics: plain coalesce unless growing the partition
        // count (coalesce can only shrink) or the caller forces a shuffle
        val shuffle = n > gd.ds.rdd.getNumPartitions ||
          has("-force_shuffle_coalesce")
        gd = gd.transform(ds => if (shuffle) ds.repartition(n) else ds.coalesce(n))
      }
      if (has("-sort_on_save")) gd.sortByDictionaryOrder()
      else if (has("-sort_lexicographically_on_save"))
        gd.sortLexicographically()
      else gd
    }

    if (!genotypes) {
      val gd = postProcess(
        if (isVcfExt(in)) VcfIO.readVariants(spark, in, stringency)
        else GenomicDataset.loadParquet[Variant](spark, in))
      if (isVcfExt(out))
        VcfIO.write(Conversions.variantsToVariantContexts(gd.ds), gd.meta,
          Seq.empty, out, asSingleFile = has("-single"))
      else if (has("-partition_by_start_pos"))
        gd.saveAsPartitionedParquet(out,
          fv("-partition_bin_size", "1000000").toLong)
      else gd.saveAsParquet(out)
    } else {
      var gd = postProcess(
        if (isVcfExt(in)) VcfIO.readGenotypes(spark, in, stringency)
        else GenomicDataset.loadParquet[Genotype](spark, in))
      // reference default: the nested variant's annotation map is NOT
      // populated on genotype records; -nested_annotations keeps it
      if (!has("-nested_annotations"))
        gd = gd.transform(_.map(g =>
          g.copy(variant = g.variant.map(_.copy(
            annotation = Map.empty[String, String]))))(
          org.apache.spark.sql.Encoders.product[Genotype]))
      if (isVcfExt(out)) {
        val sampleNames = gd.meta.samples.map(_.id) match {
          case s if s.nonEmpty => s
          case _ => // derive from the data: distinct sampleIds, sorted
            gd.toDF.select("sampleId").distinct()
              .collect().map(_.getString(0)).sorted.toSeq
        }
        VcfIO.write(Conversions.genotypesToVariantContexts(gd.ds), gd.meta,
          sampleNames, out, asSingleFile = has("-single"))
      } else if (has("-partition_by_start_pos"))
        gd.saveAsPartitionedParquet(out,
          fv("-partition_bin_size", "1000000").toLong)
      else gd.saveAsParquet(out)
    }
    println(s"$cmd: wrote $out")
  }

  // ------------------------- PRINT group ----------------------------------

  /** Per-bit predicate Columns for each SAM flag bit set in `n`, in the
    * `matchValue = true` sense (reference View.getFilters,
    * adam-cli/.../View.scala:121-156). The 0x8 subtlety is preserved: the
    * record model stores mate MAPPED, and "mate unmapped" is only
    * meaningful for paired reads, so 0x8 = paired && !mateMapped. */
  private def bitPredicates(n: Int): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    def b(c: org.apache.spark.sql.Column) = coalesce(c, lit(false))
    val preds = Seq(
      0x1 -> b(col("readPaired")),
      0x2 -> b(col("properPair")),
      0x4 -> !b(col("readMapped")),
      0x8 -> (b(col("readPaired")) && !coalesce(col("mateMapped"), lit(true))),
      0x10 -> b(col("readNegativeStrand")),
      0x20 -> b(col("mateNegativeStrand")),
      0x40 -> (coalesce(col("readInFragment"), lit(-1)) === 0),
      0x80 -> (coalesce(col("readInFragment"), lit(-1)) === 1),
      0x100 -> !coalesce(col("primaryAlignment"), lit(true)),
      0x200 -> b(col("failedVendorQualityChecks")),
      0x400 -> b(col("duplicateRead")),
      0x800 -> b(col("supplementaryAlignment")))
    preds.collect { case (bit, p) if (n & bit) > 0 => p }
  }

  /** `view` — the reference's samtools-style record viewer
    * (adam-cli/.../View.scala): -f N (ALL bits match), -F N (NO bit
    * matches), -g N (ANY bit matches), -G N (ANY bit mismatches), -c
    * (count only), -o FILE / second positional (save SAM/BAM/CRAM/parquet
    * by extension), -single; plus samtools' -q MINQ (mapq >= MINQ).
    * With no output path it prints SAM to stdout. All filters are Column
    * predicates — one codegen'd scan, no driver-side row filtering. */
  def view(spark: SparkSession, args: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    def intArg(name: String): Int = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) {
        val v = args(i + 1)
        if (v.startsWith("0x")) Integer.parseInt(v.drop(2), 16) else v.toInt
      } else 0
    }
    // positional args = everything that is neither an option nor a value
    // consumed by one of the valued options
    val valued = Set("-f", "-F", "-g", "-G", "-q", "-o")
    val pos = scala.collection.mutable.ArrayBuffer.empty[String]
    var ai = 0
    while (ai < args.length) {
      val a = args(ai)
      if (valued.contains(a)) ai += 2
      else { if (!a.startsWith("-")) pos += a; ai += 1 }
    }
    require(pos.nonEmpty, "view: INPUT path required")
    val in = pos.head
    val oIdx = args.indexOf("-o")
    val out = (if (oIdx >= 0 && oIdx + 1 < args.length) Some(args(oIdx + 1))
      else None).orElse(pos.lift(1))

    val gd = loadAlignments(spark, in)
    val allPreds = bitPredicates(intArg("-f")) ++
      bitPredicates(intArg("-F")).map(p => !p)
    val somePreds = bitPredicates(intArg("-g"))
    val someMismatch = bitPredicates(intArg("-G")).map(p => !p)
    val minQ = intArg("-q")
    val pred = (allPreds ++ Seq(
      if (somePreds.nonEmpty) Some(somePreds.reduce(_ || _)) else None,
      if (someMismatch.nonEmpty) Some(someMismatch.reduce(_ || _)) else None,
      if (minQ > 0) Some(coalesce(col("mappingQuality"), lit(0)) >= minQ)
      else None).flatten).foldLeft(lit(true))(_ && _)
    val filtered = gd.transform(_.filter(pred))

    out match {
      case Some(o) => saveAlignments(filtered, o, single = args.contains("-single"))
      case None if args.contains("-c") => println(filtered.ds.count())
      case None =>
        // stdout prints SAM, like the reference; stream, don't collect
        SamIO.headerLines(filtered.meta).foreach(println)
        filtered.ds.toLocalIterator().forEachRemaining(r =>
          println(SamIO.toSamLine(r)))
    }
  }

  /** `print` — the reference's PrintADAM: dump parquet files as JSON
    * records to stdout or `-o FILE` (local); `-pretty` re-indents. */
  def printParquet(spark: SparkSession, args: Seq[String]): Unit = {
    val oIdx = args.indexOf("-o")
    val outFile = if (oIdx >= 0 && oIdx + 1 < args.length) Some(args(oIdx + 1)) else None
    val pretty = args.contains("-pretty")
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    var ai = 0
    while (ai < args.length) {
      if (args(ai) == "-o") ai += 2
      else { if (!args(ai).startsWith("-")) files += args(ai); ai += 1 }
    }
    require(files.nonEmpty, "print: at least one parquet file required")
    val ps = outFile.map(f => new java.io.PrintStream(f)).getOrElse(Console.out)
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      files.foreach { f =>
        spark.read.parquet(f).toJSON.toLocalIterator().forEachRemaining { line =>
          if (pretty)
            ps.println(mapper.writerWithDefaultPrettyPrinter()
              .writeValueAsString(mapper.readTree(line)))
          else ps.println(line)
        }
      }
    } finally if (outFile.isDefined) ps.close()
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionTuning.local()
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Command dispatch, session-agnostic (tests drive this directly). */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    args.toList match {
      case "transformAlignments" :: rest =>
        transformAlignments(spark, rest)

      case "transformFeatures" :: in :: out :: _ =>
        val feats = FeatureIO.readFeatures(spark, in)
        val p = out.toLowerCase
        if (p.endsWith(".bed")) FeatureIO.writeBed(feats, out)
        else if (p.endsWith(".gff3")) FeatureIO.writeGff3(feats, out)
        else if (p.endsWith(".gtf")) FeatureIO.writeGtf(feats, out)
        else if (p.endsWith(".narrowpeak")) FeatureIO.writeNarrowPeak(feats, out)
        else if (p.endsWith(".interval_list")) FeatureIO.writeIntervalList(feats, out)
        else GenomicDataset(feats, GenomicMetadata.empty).saveAsParquet(out)
        println(s"transformFeatures: wrote $out")

      case "flagstat" :: in :: _ =>
        val gd = loadAlignments(spark, in)
        AlignmentOps.flagStat(gd.ds).show(truncate = false)

      case "countKmers" :: in :: k :: out :: _ =>
        val gd = loadAlignments(spark, in)
        AlignmentOps.countKmers(gd.ds, k.toInt)
          .write.mode("overwrite").parquet(out)
        println(s"countKmers: wrote $out")

      case "coverage" :: in :: out :: rest =>
        val gd = loadAlignments(spark, in)
        val cov0 = AlignmentOps.toCoverage(gd.ds)
        val cov = if (rest.contains("-collapse")) CoverageOps.collapse(cov0) else cov0
        cov.write.mode("overwrite").parquet(out)
        println(s"coverage: wrote $out")

      case "transformVariants" :: in :: out :: rest =>
        transformVcfSide(spark, in, out, rest, genotypes = false)

      case "transformGenotypes" :: in :: out :: rest =>
        transformVcfSide(spark, in, out, rest, genotypes = true)

      case "vcf2parquet" :: in :: out :: _ =>
        val b = VcfIO.read(spark, in)
        GenomicDataset(b.contexts, b.meta)(Encoders.product[VariantContext])
          .saveAsParquet(out)
        println(s"vcf2parquet: wrote $out")

      case "mergeShards" :: in :: out :: _ =>
        FileMerger.mergeToSingleFile(spark, in, out, deleteParts = false)
        println(s"mergeShards: wrote $out")

      case "countSliceKmers" :: in :: k :: out :: _ =>
        import org.apache.spark.sql.functions._
        val seqs =
          if (in.toLowerCase.endsWith(".parquet")) spark.read.parquet(in)
          else SequenceIO.readFasta(spark, in).toDF()
        seqs.filter(col("sequence").isNotNull)
          .select(explode(
            graft.functions.GenomicFunctions.kmers("sequence", k.toInt)).as("kmer"))
          .filter(length(col("kmer")) === k.toInt)
          .groupBy("kmer").agg(count(lit(1)).as("count"))
          .write.mode("overwrite").parquet(out)
        println(s"countSliceKmers: wrote $out")

      case "transformSequences" :: in :: out :: _ =>
        implicit val seqE: org.apache.spark.sql.Encoder[Sequence] =
          Encoders.product[Sequence]
        val seqs =
          if (in.toLowerCase.endsWith(".parquet"))
            spark.read.parquet(in).as[Sequence]
          else SequenceIO.readFasta(spark, in)
        if (out.toLowerCase.endsWith(".fasta") || out.toLowerCase.endsWith(".fa"))
          SequenceIO.writeFasta(seqs, out)
        else GenomicDataset(seqs, GenomicMetadata.empty).saveAsParquet(out)
        println(s"transformSequences: wrote $out")

      case "transformSlices" :: in :: out :: _ =>
        implicit val slE: org.apache.spark.sql.Encoder[Slice] =
          Encoders.product[Slice]
        val slices =
          if (in.toLowerCase.endsWith(".parquet"))
            spark.read.parquet(in).as[Slice]
          else SequenceIO.readFastaSlices(spark, in)
        GenomicDataset(slices, GenomicMetadata.empty).saveAsParquet(out)
        println(s"transformSlices: wrote $out")

      case "transformFragments" :: rest =>
        implicit val frE: org.apache.spark.sql.Encoder[Fragment] =
          Encoders.product[Fragment]
        val (flags, pos) = rest.partition(_.startsWith("-"))
        val Seq(in, out) = pos.take(2)
        val gd = loadAlignments(spark, in)
        var frags = AlignmentOps.toFragments(gd.ds)
        if (flags.contains("-mark_duplicates"))
          frags = AlignmentOps.markDuplicateFragments(frags, gd.meta.readGroups)
        GenomicDataset(frags, gd.meta).saveAsParquet(out)
        println(s"transformFragments: wrote $out")

      case "adam2fastq" :: in :: out1 :: rest =>
        val gd = loadAlignments(spark, in)
        rest.headOption match {
          case Some(out2) =>
            SequenceIO.writePairedFastq(gd.ds, out1, out2, strict = false)
            println(s"adam2fastq: wrote $out1 + $out2")
          case None =>
            implicit val rdE: org.apache.spark.sql.Encoder[Read] =
              Encoders.product[Read]
            SequenceIO.writeFastq(Conversions.alignmentsToReads(gd.ds), out1)
            println(s"adam2fastq: wrote $out1")
        }

      case "view" :: rest =>
        view(spark, rest)

      case "print" :: rest =>
        printParquet(spark, rest)

      // -------- training-data pipeline group (documents parquet in/out) ----
      // dedup <in.parquet> <out.parquet> [-id c] [-text c] [-method exact|
      //   minhash|winnowing] — drop duplicate docs, keep each duplicate
      //   cluster's minimum id (transitive closure for the near-dup methods)
      case "dedup" :: in :: out :: rest =>
        import org.apache.spark.sql.functions.col
        import graft.operators.{DedupOps, TextOps}
        def fv(flag: String): Option[String] = {
          val i = rest.indexOf(flag)
          if (i >= 0 && i + 1 < rest.length) Some(rest(i + 1)) else None
        }
        val id = fv("-id").getOrElse("doc_id")
        val text = fv("-text").getOrElse("text")
        val docs = spark.read.parquet(in)
        val kept = fv("-method").getOrElse("exact") match {
          case "exact" => DedupOps.dropExactDuplicates(docs, id, text)
          case m =>
            val pairs = m match {
              case "minhash" =>
                DedupOps.minhashNearDuplicates(docs, id, text)
                  .select("id_a", "id_b")
              case "winnowing" =>
                TextOps.winnowingNearDuplicates(docs, id, text,
                  minShared = 5, maxDocFreq = 50).select("id_a", "id_b")
              case "edit" =>
                DedupOps.editDistanceNearDuplicates(docs, id, text,
                  maxDist = 2).select("id_a", "id_b")
              case other => sys.error(s"unknown dedup method: $other")
            }
            val victims = DedupOps.clusterDuplicates(pairs)
              .filter(col("id") =!= col("label")).select(col("id").as("__v"))
            docs.join(victims, docs(id) === col("__v"), "left_anti")
        }
        kept.write.mode("overwrite").parquet(out)
        println(s"dedup: wrote $out")

      // score <in.parquet> <out.parquet> [-text c] — append quality
      // columns: gopher rules + keep, langId, token count
      case "score" :: in :: out :: rest =>
        import org.apache.spark.sql.functions.col
        import graft.operators.TextOps
        val ti = rest.indexOf("-text")
        val text = if (ti >= 0 && ti + 1 < rest.length) rest(ti + 1) else "text"
        val docs = spark.read.parquet(in)
        val ruled = TextOps.gopherQualityRules(col(text)).foldLeft(docs) {
          case (d, (name, c)) => d.withColumn(name, c)
        }
        ruled
          .withColumn("gopher_keep", TextOps.gopherKeep(col(text)))
          .withColumn("pred_lang", TextOps.langId(col(text)))
          .withColumn("n_tokens", TextOps.tokenCount(col(text)))
          .write.mode("overwrite").parquet(out)
        println(s"score: wrote $out")

      // extractText <in.parquet> <out.parquet> [-html c] [-out c] — HTML ->
      // text extraction (WebOps.htmlToText) as a column rewrite
      case "extractText" :: in :: out :: rest =>
        import org.apache.spark.sql.functions.col
        val fv = flagValue(rest) _
        spark.read.parquet(in)
          .withColumn(fv("-out", "text"),
            graft.operators.WebOps.htmlToText(col(fv("-html", "html"))))
          .write.mode("overwrite").parquet(out)
        println(s"extractText: wrote $out")

      // urlDedup <in.parquet> <out.parquet> [-url c] [-id c] — one row per
      // canonical URL (smallest id wins) with the duplicate count
      case "urlDedup" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.WebOps.urlDedup(spark.read.parquet(in),
            fv("-url", "url"), fv("-id", "doc_id"))
          .write.mode("overwrite").parquet(out)
        println(s"urlDedup: wrote $out")

      // split <in.parquet> <out.parquet> [-key c] [-fractions train=0.9,val=0.05,test=0.05]
      // — deterministic hash split, adds a `split` column
      case "split" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val splits = fv("-fractions", "train=0.9,val=0.05,test=0.05")
          .split(",").toSeq.map { kv =>
            val Array(n, f) = kv.split("=", 2)
            n -> f.toDouble
          }
        graft.operators.SamplingOps.hashSplit(
            spark.read.parquet(in), fv("-key", "doc_id"), splits,
            salt = fv("-salt", "graft"))
          .write.mode("overwrite").parquet(out)
        println(s"split: wrote $out")

      // dedupSplit <in> <out> [-id c] [-text c] [-fractions n=f,...]
      //   [-salt s] — leak-safe split: MinHash near-dup clusters never
      //   cross a split boundary
      case "dedupSplit" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val id = fv("-id", "doc_id"); val text = fv("-text", "text")
        val splits = fv("-fractions", "train=0.9,val=0.05,test=0.05")
          .split(",").toSeq.map { kv =>
            val Array(n, f) = kv.split("=", 2)
            n -> f.toDouble
          }
        val docs = spark.read.parquet(in)
        val pairs = graft.operators.DedupOps.minhashNearDuplicates(
          docs, id, text, numHashes = 64, shingleN = 3, bands = 16,
          threshold = 0.5).select("id_a", "id_b")
        graft.operators.SamplingOps.leakSafeSplit(
            docs, id, pairs, splits, salt = fv("-salt", "graft"))
          .write.mode("overwrite").parquet(out)
        println(s"dedupSplit: wrote $out")

      // snapshotDelta <old> <new> <out> [-id c] [-text c] [-carry c,...]
      //   [-report] — incremental corpus diff; -report rolls up per carry col
      case "snapshotDelta" :: oldIn :: newIn :: out :: rest =>
        val fv = flagValue(rest) _
        val carry = fv("-carry", "").split(",").filter(_.nonEmpty).toSeq
        val delta = graft.operators.SnapshotOps.snapshotDelta(
          spark.read.parquet(oldIn), spark.read.parquet(newIn),
          fv("-id", "doc_id"), fv("-text", "text"), carry)
        val res = if (rest.contains("-report")) {
          require(carry.nonEmpty, "-report needs -carry group cols")
          graft.operators.SnapshotOps.snapshotDeltaReport(delta, carry)
        } else delta
        res.write.mode("overwrite").parquet(out)
        println(s"snapshotDelta: wrote $out")

      // budgetSelect <in> <out> -budget N [-id c] [-score c] [-tokens c]
      //   — best-scored prefix under a global token budget
      case "budgetSelect" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.SamplingOps.budgetSelect(
            spark.read.parquet(in), fv("-id", "doc_id"),
            fv("-score", "score"), fv("-tokens", "tokens"),
            fv("-budget", "1000000").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"budgetSelect: wrote $out")

      // calibrate <in> <out> [-strata c] [-id c] [-score c] [-keep f]
      //   — per-stratum percentile calibration + top-fraction selection
      case "calibrate" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.SamplingOps.calibratedSelect(
            spark.read.parquet(in), fv("-strata", "source"),
            fv("-id", "doc_id"), fv("-score", "score"),
            fv("-keep", "0.3").toDouble)
          .write.mode("overwrite").parquet(out)
        println(s"calibrate: wrote $out")

      // nextEvents <in> <out> [-key c] [-type c] [-ts c] [-tie c]
      //   [-history n] — bounded-history next-event training examples
      case "nextEvents" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.nextEventExamples(
            readTs(spark, in, fv("-ts", "ts")), fv("-key", "user_id"),
            fv("-type", "event_type"), fv("-ts", "ts"),
            fv("-tie", "event_id"), fv("-history", "3").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"nextEvents: wrote $out")

      // sourceNovelty <in> <out> [-text c] [-source c] — per-source
      //   novelty attribution after exact dedup
      case "sourceNovelty" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.CorpusCompareOps.sourceNovelty(
            spark.read.parquet(in), fv("-text", "text"),
            fv("-source", "source"))
          .write.mode("overwrite").parquet(out)
        println(s"sourceNovelty: wrote $out")

      // sourceSim <in> <out> [-text c] [-source c] [-buckets n] —
      //   pairwise source cosine over hashed unigram vectors
      case "sourceSim" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.CorpusCompareOps.sourceSimilarity(
            spark.read.parquet(in), fv("-text", "text"),
            fv("-source", "source"), fv("-buckets", "4096").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"sourceSim: wrote $out")

      // chi2 <in> <out> [-label c] [-text c] [-buckets n] [-top k] —
      //   label-discriminative token buckets by exact chi-square
      case "chi2" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.CorpusCompareOps.chiSquareFeatures(
            spark.read.parquet(in), fv("-label", "source"),
            fv("-text", "text"), fv("-buckets", "4096").toInt,
            fv("-top", "50").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"chi2: wrote $out")

      // actives <in> <out> [-key c] [-ts c] [-window d] — DAU + rolling
      //   exact distinct actives
      case "actives" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.rollingDistinctActives(
            readTs(spark, in, fv("-ts", "ts")), fv("-key", "user_id"),
            fv("-ts", "ts"), fv("-window", "7").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"actives: wrote $out")

      // anomalies <in> <out> [-group c] [-day c] [-n c] [-lookback d]
      //   [-minHistory n] [-k permille] — trailing-window volume z-test
      case "anomalies" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Stats.volumeAnomalies(
            spark.read.parquet(in), fv("-group", "event_type"),
            fv("-day", "day"), fv("-n", "n"),
            fv("-lookback", "7").toInt, fv("-minHistory", "4").toLong,
            fv("-k", "3000").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"anomalies: wrote $out")

      // retention <in> <out> [-key c] [-ts c] — cohort retention triangle
      case "retention" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.retentionCohorts(
            readTs(spark, in, fv("-ts", "ts")),
            fv("-key", "user_id"), fv("-ts", "ts"))
          .write.mode("overwrite").parquet(out)
        println(s"retention: wrote $out")

      // calfill <in> <out> [-group c] [-day c] [-value c] — calendar gap
      //   fill + forward fill on a keyed daily series
      case "calfill" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TimeSeriesOps.calendarFill(
            spark.read.parquet(in), fv("-group", "event_type"),
            fv("-day", "day"), fv("-value", "n"))
          .write.mode("overwrite").parquet(out)
        println(s"calfill: wrote $out")

      // abtest <in> <out> [-group c] [-variant c] [-outcome c] — pooled
      //   two-proportion z-test per experiment group over unit rows
      case "abtest" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Stats.abTestReport(
            spark.read.parquet(in), fv("-group", "grp"),
            fv("-variant", "variant_b"), fv("-outcome", "converted"))
          .write.mode("overwrite").parquet(out)
        println(s"abtest: wrote $out")

      // profile <in> <out> [-cols a,b,c] — single-pass table profile
      //   (defaults to every column)
      case "profile" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val df = spark.read.parquet(in)
        val cols = {
          val c = fv("-cols", "").split(",").filter(_.nonEmpty).toSeq
          if (c.nonEmpty) c else df.columns.toSeq
        }
        graft.operators.ProfileOps.profileColumns(df, cols)
          .write.mode("overwrite").parquet(out)
        println(s"profile: wrote $out")

      // fkAudit <child> <parent> <out> -childKey c -parentKey c —
      //   referential-integrity orphan audit
      case "fkAudit" :: childP :: parentP :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.ProfileOps.fkAudit(
            spark.read.parquet(childP), spark.read.parquet(parentP),
            fv("-childKey", "id"), fv("-parentKey", "id"))
          .write.mode("overwrite").parquet(out)
        println(s"fkAudit: wrote $out")

      // pkAudit <in> <out> -cols a[,b] — primary-key uniqueness audit
      case "pkAudit" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val cols = fv("-cols", "").split(",").filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "pkAudit needs -cols a[,b]")
        graft.operators.ProfileOps.pkAudit(spark.read.parquet(in), cols)
          .write.mode("overwrite").parquet(out)
        println(s"pkAudit: wrote $out")

      // calibration <in> <out> [-score c] [-outcome c] [-tie c] [-n k]
      case "calibration" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Quantiles.calibrationCurve(
            spark.read.parquet(in), fv("-score", "score"),
            fv("-outcome", "pos"), fv("-tie", "id"), fv("-n", "10").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"calibration: wrote $out")

      // kanon <in> <out> -cols a,b,c [-k n] — k-anonymity release audit
      case "kanon" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val cols = fv("-cols", "").split(",").filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "kanon needs -cols a,b,...")
        graft.operators.PrivacyOps.kAnonymityReport(
            spark.read.parquet(in), cols, fv("-k", "10").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"kanon: wrote $out")

      // trend <in> <out> [-group c] [-x c] [-y c] — per-group exact
      //   least-squares slope/intercept
      case "trend" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Stats.trendByGroup(
            spark.read.parquet(in), fv("-group", "event_type"),
            fv("-x", "day"), fv("-y", "n"))
          .write.mode("overwrite").parquet(out)
        println(s"trend: wrote $out")

      // wilson <in> <out> [-group c] [-pass c] [-z x] — Wilson
      //   lower-bound pass-rate ranking
      case "wilson" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Stats.wilsonRanking(
            spark.read.parquet(in), fv("-group", "source"),
            fv("-pass", "pass"), fv("-z", "1.96").toDouble)
          .write.mode("overwrite").parquet(out)
        println(s"wilson: wrote $out")

      // rrf <a.parquet> <b.parquet> <out> [-id c] [-rank c] [-k n]
      //   [-top n] — reciprocal-rank fusion of two rankings
      case "rrf" :: a :: b :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.RankFusionOps.rrfFuse(
            spark.read.parquet(a), spark.read.parquet(b),
            fv("-id", "doc_id"), fv("-rank", "rank"),
            fv("-k", "60").toInt, fv("-top", "100").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"rrf: wrote $out")

      // gini <in> <out> [-group c] [-value c] [-tie c] — per-group Gini
      //   concentration
      case "gini" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Stats.giniByGroup(
            spark.read.parquet(in), fv("-group", "source"),
            fv("-value", "tokens"), fv("-tie", "doc_id"))
          .write.mode("overwrite").parquet(out)
        println(s"gini: wrote $out")

      // ntile <in> <out> -by c [-tie c] [-n k] — exact global equal-depth
      //   binning (ANSI NTILE semantics) with a parallel range sort
      case "ntile" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Quantiles.globalNtile(
            spark.read.parquet(in), fv("-by", "tokens"),
            fv("-tie", "doc_id"), fv("-n", "10").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"ntile: wrote $out")

      // skewReport <in> -key c [-top k] — top-k heaviest keys with share
      //   and global totals, printed and (optionally) written
      case "skewReport" :: in :: rest =>
        val fv = flagValue(rest) _
        val rep = graft.operators.SkewOps.keySkewReport(
          spark.read.parquet(in), fv("-key", "user_id"),
          fv("-top", "20").toInt)
        val outPath = fv("-out", "")
        if (outPath.nonEmpty) rep.write.mode("overwrite").parquet(outPath)
        rep.show(100, truncate = false)

      // boilerplate <in> <out> [-id c] [-text c] [-group c] [-minDocs n]
      //   — remove same-group template paragraphs (every occurrence)
      case "boilerplate" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.DedupOps.removeBoilerplate(
            spark.read.parquet(in), fv("-id", "doc_id"),
            fv("-text", "text"), fv("-group", "source"),
            fv("-minDocs", "3").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"boilerplate: wrote $out")

      // phrase <in> <out> -words "w1 w2 ..." [-id c] [-text c] —
      //   positional exact phrase search, (id, n_occurrences)
      case "phrase" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val words = fv("-words", "").split("\\s+").filter(_.nonEmpty).toSeq
        require(words.nonEmpty, "phrase requires -words \"w1 w2 ...\"")
        graft.operators.TextOps.phraseSearch(
            spark.read.parquet(in), fv("-id", "doc_id"),
            fv("-text", "text"), words)
          .write.mode("overwrite").parquet(out)
        println(s"phrase: wrote $out")

      // mix <in.parquet> <out.parquet> [-strata c] [-key c] [-alpha a]
      //     [-target n] — temperature-scaled stratum mixture
      case "mix" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.SamplingOps.temperatureMix(
            spark.read.parquet(in), fv("-strata", "lang"),
            fv("-key", "doc_id"), fv("-alpha", "0.5").toDouble,
            fv("-target", "1000000").toLong, salt = fv("-salt", "graft"))
          .write.mode("overwrite").parquet(out)
        println(s"mix: wrote $out")

      // decontaminate <corpus.parquet> <bench.parquet> <out.parquet>
      //   [-id c] [-text c] [-benchText c] [-n N] [-maxFrac f]
      //   — per-doc benchmark-overlap report
      case "decontaminate" :: in :: bench :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TextOps.contaminationReport(
            spark.read.parquet(in), spark.read.parquet(bench),
            fv("-id", "doc_id"), fv("-text", "text"),
            fv("-benchText", "text"), fv("-n", "8").toInt,
            fv("-maxFrac", "0.2").toDouble)
          .write.mode("overwrite").parquet(out)
        println(s"decontaminate: wrote $out")

      // lineDedup <in.parquet> <out.parquet> [-id c] [-text c] [-minDocs n]
      //   — cross-document boilerplate line removal (RefinedWeb-style)
      case "lineDedup" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TextOps.globalLineDedup(
            spark.read.parquet(in), fv("-id", "doc_id"),
            fv("-text", "text"), fv("-minDocs", "2").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"lineDedup: wrote $out")

      // chunk <in.parquet> <out.parquet> [-id c] [-text c] [-size n]
      //   [-stride n] — sliding-window character chunking
      case "chunk" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TextOps.chunkDocuments(
            spark.read.parquet(in), fv("-id", "doc_id"),
            fv("-text", "text"), fv("-size", "2048").toInt,
            fv("-stride", "1536").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"chunk: wrote $out")

      // collocations <in.parquet> <out.parquet> [-text c] [-minCount n]
      //   [-k n] — top-k adjacent-bigram collocations by PMI
      case "collocations" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TextOps.collocationsPmi(
            spark.read.parquet(in), fv("-text", "text"),
            fv("-minCount", "5").toLong, fv("-k", "100").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"collocations: wrote $out")

      // transitions <in.parquet> <out.parquet> [-key c] [-type c] [-ts c]
      //   [-tie c] — per-key Markov transition counts
      case "transitions" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.eventTransitions(
            readTs(spark, in, fv("-ts", "ts")), fv("-key", "user_id"),
            fv("-type", "event_type"), fv("-ts", "ts"),
            fv("-tie", "event_id"))
          .write.mode("overwrite").parquet(out)
        println(s"transitions: wrote $out")

      // percentiles <in.parquet> <out.parquet> [-group c] [-value c]
      //   [-tie c] [-ps 0.5,0.9,0.99] — exact grouped disc percentiles
      case "percentiles" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Quantiles.discPercentiles(
            spark.read.parquet(in), fv("-group", "event_type"),
            fv("-value", "value"), fv("-tie", "event_id"),
            fv("-ps", "0.5,0.9,0.99").split(",").toSeq.map(_.toDouble))
          .write.mode("overwrite").parquet(out)
        println(s"percentiles: wrote $out")

      // zorder <in.parquet> <out.parquet> -cols a,b [-files n] [-bits n]
      //   — Morton-curve clustered rewrite for multi-dim row-group pruning
      case "zorder" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.ZOrder.writeZOrdered(
          spark.read.parquet(in), out,
          fv("-cols", "").split(",").toSeq.filter(_.nonEmpty),
          fv("-files", "64").toInt, fv("-bits", "16").toInt)
        println(s"zorder: wrote $out")

      // heavyHitters <in.parquet> <out.parquet> [-text c] [-depth n]
      //   [-width n] [-top n] — exact top tokens + count-min estimates
      case "heavyHitters" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.SketchOps.cmsHeavyHitters(
            spark.read.parquet(in), fv("-text", "text"),
            fv("-depth", "4").toInt, fv("-width", "1024").toInt,
            fv("-top", "20").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"heavyHitters: wrote $out")

      // hll <in.parquet> <out.parquet> [-text c] [-p n] — HyperLogLog
      //   distinct-count summary (integer-exact estimator)
      case "hll" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.SketchOps.hllSummary(
            spark.read.parquet(in), fv("-text", "text"), fv("-p", "10").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"hll: wrote $out")

      // sourceOverlap <in.parquet> <out.parquet> [-group c] [-text c]
      //   [-n shingleN] [-k n] — pairwise corpus overlap via bottom-k sketches
      case "sourceOverlap" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val k = fv("-k", "256").toInt
        graft.operators.SketchOps.sketchOverlap(
            graft.operators.SketchOps.bottomKSketch(
              spark.read.parquet(in), fv("-group", "source"),
              fv("-text", "text"), fv("-n", "3").toInt, k), k)
          .write.mode("overwrite").parquet(out)
        println(s"sourceOverlap: wrote $out")

      // imageDedup <media.parquet> <out.parquet> [-maxDist n] [-bands n]
      //   — perceptual near-dup pairs over (media_id, payload) BMP rows
      case "imageDedup" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.MultimodalOps.imageNearDuplicates(
            spark.read.parquet(in),
            fv("-maxDist", "3").toInt, fv("-bands", "4").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"imageDedup: wrote $out")

      // audioDedup <media.parquet> <out.parquet> [-maxDist n] [-bands n]
      //   — near-dup pairs over (media_id, payload) WAV rows
      case "audioDedup" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.MultimodalOps.audioNearDuplicates(
            spark.read.parquet(in),
            fv("-maxDist", "3").toInt, fv("-bands", "4").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"audioDedup: wrote $out")

      // warcExtract <warc-glob> <out.parquet> — crawl intake: WARC
      //   responses -> HTTP envelope strip -> html -> extracted text
      case "warcExtract" :: in :: out :: _ =>
        val resp = graft.sources.WarcIO.responses(
          graft.sources.WarcIO.read(spark, in))
        resp.select(org.apache.spark.sql.functions.col("target_uri"),
            org.apache.spark.sql.functions.col("warc_date"),
            graft.operators.WebOps.htmlToText(
              org.apache.spark.sql.functions.col("html")).as("text"))
          .write.mode("overwrite").parquet(out)
        println(s"warcExtract: wrote $out")

      // pagerank <edges.parquet> <out.parquet> [-iters n] [-top n]
      //   [-scale n] — fixed-point integer PageRank over (src, dst)
      case "pagerank" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val edges = spark.read.parquet(in)
        val iters = fv("-iters", "5").toInt
        val scale = fv("-scale", "1000000000").toLong
        val top = fv("-top", "0").toInt
        (if (top > 0) graft.operators.GraphOps.pageRankTopK(edges, iters, top, scale)
         else graft.operators.GraphOps.pageRank(edges, iters, scale))
          .write.mode("overwrite").parquet(out)
        println(s"pagerank: wrote $out")

      // lpa <edges.parquet> <out.parquet> [-rounds n] [-top n] —
      //   deterministic label-propagation communities over (src, dst);
      //   -top writes the k largest communities instead of node labels
      case "lpa" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val edges = spark.read.parquet(in)
        val rounds = fv("-rounds", "4").toInt
        val top = fv("-top", "0").toInt
        (if (top > 0)
           graft.operators.GraphOps.labelPropagationCommunities(edges, rounds, top)
         else graft.operators.GraphOps.labelPropagation(edges, rounds))
          .write.mode("overwrite").parquet(out)
        println(s"lpa: wrote $out")

      // nbRoute <train.parquet> <test.parquet> <out.parquet> [-label c]
      //   [-id c] [-text c] [-buckets n] [-confusion] — train a
      //   multinomial NB router on one corpus, classify another
      case "nbRoute" :: in :: test :: out :: rest =>
        val fv = flagValue(rest) _
        val label = fv("-label", "lang"); val id = fv("-id", "doc_id")
        val text = fv("-text", "text"); val b = fv("-buckets", "4096").toInt
        val tr = spark.read.parquet(in)
        val te = spark.read.parquet(test)
        (if (rest.contains("-confusion"))
           graft.operators.ClassifierOps.nbConfusion(tr, te, id, label, text, b)
         else graft.operators.ClassifierOps.nbClassify(te,
           graft.operators.ClassifierOps.nbTrain(tr, label, text, b),
           id, text, b))
          .write.mode("overwrite").parquet(out)
        println(s"nbRoute: wrote $out")

      // mmr <embeddings.parquet> <out.parquet> [-query id] [-k n]
      //   [-lambda x] [-cands n] [-id c] [-vec c] — MMR diversified
      //   top-k against the embedding of row `-query`
      case "mmr" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val id = fv("-id", "vec_id"); val vec = fv("-vec", "embedding")
        val qid = fv("-query", "0").toLong
        val emb = spark.read.parquet(in)
        import org.apache.spark.sql.functions.col
        val qv = emb.filter(col(id) === qid)
          .select(col(vec).cast("array<double>"))
          .head.getSeq[Double](0).toSeq
        graft.operators.SimilarityOps.mmrSelect(
          emb.filter(col(id) =!= qid), qv, fv("-k", "10").toInt,
          fv("-lambda", "0.7").toDouble, fv("-cands", "200").toInt,
          id, vec)
          .write.mode("overwrite").parquet(out)
        println(s"mmr: wrote $out")

      case "bpe" :: in :: out :: rest =>
        // train a BPE tokenizer on a parquet corpus; writes the merge
        // table, and with -vocabStats also the top-k subword statistics
        val fv = flagValue(rest) _
        val docs = spark.read.parquet(in)
        val text = fv("-text", "text")
        val merges = fv("-merges", "10").toInt
        graft.operators.TokenizerOps.bpeMerges(docs, text, merges)
          .write.mode("overwrite").parquet(out)
        if (rest.contains("-vocabStats"))
          graft.operators.TokenizerOps.bpeTokenStats(docs, text, merges,
            fv("-top", "40").toInt)
            .write.mode("overwrite").parquet(out + ".vocab")
        println(s"bpe: wrote $out")

      case "svLink" :: in :: out :: rest =>
        // link breakend (BND) mates from a VCF (or a variants parquet) by
        // MATEID / reciprocal coordinates; -events writes EVENT groups too
        val vars =
          if (in.endsWith(".parquet")) spark.read.parquet(in)
          else {
            import org.apache.spark.sql.functions.col
            VcfIO.readVariants(spark, in).toDF
              .select(col("referenceName"), col("start"), col("names"),
                col("alternateAllele"), col("annotation"))
          }
        graft.operators.StructuralVariants.linkBreakends(vars)
          .write.mode("overwrite").parquet(out)
        if (rest.contains("-events"))
          graft.operators.StructuralVariants.eventGroups(vars)
            .write.mode("overwrite").parquet(out + ".events")
        println(s"svLink: wrote $out")

      // waterfill <counts.parquet> <out> (-budget N | -fraction NUM/DEN)
      //   [-source c] [-avail c] [-weight c] — budget-constrained mixture
      //   allocation; -fraction folds budget = floor(sum(avail)*NUM/DEN)
      //   into the plan
      case "waterfill" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val budget = fv("-budget", "")
        val fraction = fv("-fraction", "")
        if (budget.isEmpty && fraction.isEmpty)
          sys.error("waterfill needs -budget N or -fraction NUM/DEN")
        val df = spark.read.parquet(in)
        val (src, av, wt) =
          (fv("-source", "source"), fv("-avail", "available"),
            fv("-weight", "weight"))
        val alloc =
          if (budget.nonEmpty)
            graft.operators.SamplingOps.waterFillAllocation(
              df, src, av, wt, budget.toLong)
          else {
            val Array(n, d) = fraction.split("/", 2)
            graft.operators.SamplingOps.waterFillAllocation(
              df, src, av, wt, n.toLong, d.toLong)
          }
        alloc.write.mode("overwrite").parquet(out)
        println(s"waterfill: wrote $out")

      // shards <in> <out> [-size c] [-tie c] [-n k] [-report] —
      //   size-balanced serpentine shard assignment
      case "shards" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val df = spark.read.parquet(in)
        val (size, tie, n) =
          (fv("-size", "n_chars"), fv("-tie", "doc_id"), fv("-n", "8").toInt)
        graft.operators.ShardOps.balancedShards(df, size, tie, n)
          .write.mode("overwrite").parquet(out)
        if (rest.contains("-report"))
          graft.operators.ShardOps.shardReport(df, size, tie, n)
            .write.mode("overwrite").parquet(out + ".report")
        println(s"shards: wrote $out")

      // pctRank <in> <out> [-group c] [-score c] — per-group percent-rank
      //   score normalization (adds pct_rank)
      case "pctRank" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Stats.percentRankNormalize(
            spark.read.parquet(in), fv("-group", "source"),
            fv("-score", "score"))
          .write.mode("overwrite").parquet(out)
        println(s"pctRank: wrote $out")

      // horizonDedup <in> <out> -horizon MS [-key c | -text c] [-ts c]
      //   [-tie c] — chained-gap recrawl dedup (adds fresh, epoch)
      case "horizonDedup" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val h = fv("-horizon", "")
        if (h.isEmpty) sys.error("horizonDedup needs -horizon MS")
        val (ts, tie) = (fv("-ts", "ts"), fv("-tie", "event_id"))
        val df = readTs(spark, in, ts)
        val text = fv("-text", "")
        val res =
          if (text.nonEmpty)
            graft.operators.DedupOps.horizonDedupText(
              df, text, ts, tie, h.toLong)
          else graft.operators.DedupOps.horizonDedup(
            df, fv("-key", "key"), ts, tie, h.toLong)
        res.write.mode("overwrite").parquet(out)
        println(s"horizonDedup: wrote $out")

      // hashSample <in> <out> [-group c] [-id c] [-n k] — deterministic
      //   fixed-size per-group sample by md5(id) rank
      case "hashSample" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.SamplingOps.hashSampleN(
            spark.read.parquet(in), fv("-group", "source"),
            fv("-id", "doc_id"), fv("-n", "100").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"hashSample: wrote $out")

      // paddingWaste <in> <out> [-len c] [-caps 128,256,512] — padding
      //   waste per length bucket
      case "paddingWaste" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TokenizerOps.paddingWasteReport(
            spark.read.parquet(in), fv("-len", "n_chars"),
            fv("-caps", "512,1024,2048,4096").split(",").toSeq
              .map(_.trim.toLong))
          .write.mode("overwrite").parquet(out)
        println(s"paddingWaste: wrote $out")

      // neyman <in> <out> [-stratum c] [-value c] [-budget n] — Neyman
      //   optimal stratified-sampling allocation
      case "neyman" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.SamplingOps.neymanAllocation(
            spark.read.parquet(in), fv("-stratum", "source"),
            fv("-value", "n_chars"), fv("-budget", "1000").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"neyman: wrote $out")

      // sourceOverlapExact <in> <out> [-text c] [-source c] — exact
      //   pairwise cross-source duplication matrix (the `sourceOverlap`
      //   sketch's exact complement)
      case "sourceOverlapExact" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.CorpusCompareOps.sourceOverlapExact(
            spark.read.parquet(in), fv("-text", "text"),
            fv("-source", "source"))
          .write.mode("overwrite").parquet(out)
        println(s"sourceOverlapExact: wrote $out")

      // oov <in> <vocab.parquet> <out> [-text c] [-source c] [-vocab c]
      //   — occurrence-weighted OOV rate per source
      case "oov" :: in :: vocabP :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TokenizerOps.oovRate(
            spark.read.parquet(in), fv("-text", "text"),
            fv("-source", "source"), spark.read.parquet(vocabP),
            fv("-vocab", "token"))
          .write.mode("overwrite").parquet(out)
        println(s"oov: wrote $out")

      // waterfall <in> <out> -rules 'name:expr;name:expr' — ordered
      //   filter-impact waterfall (exprs are SQL booleans)
      case "waterfall" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val spec = fv("-rules", "")
        if (spec.isEmpty) sys.error("waterfall needs -rules 'n:expr;…'")
        val rules = spec.split(";").toSeq.map { r =>
          val i = r.indexOf(':')
          if (i < 1) sys.error(s"bad rule '$r' (want name:expr)")
          r.take(i).trim -> org.apache.spark.sql.functions
            .expr(r.drop(i + 1))
        }
        graft.operators.ProfileOps.filterWaterfall(
            spark.read.parquet(in), rules)
          .write.mode("overwrite").parquet(out)
        println(s"waterfall: wrote $out")

      // hits <edges.parquet> <out> [-iters n] [-k n] — integer HITS
      //   hub/authority scores (top-k per side when -k is given)
      case "hits" :: edgesP :: out :: rest =>
        val fv = flagValue(rest) _
        val e = spark.read.parquet(edgesP)
        val iters = fv("-iters", "3").toInt
        val k = fv("-k", "")
        val res =
          if (k.nonEmpty) graft.operators.GraphOps.hitsTopK(e, iters, k.toInt)
          else graft.operators.GraphOps.hits(e, iters)
        res.write.mode("overwrite").parquet(out)
        println(s"hits: wrote $out")

      // rfm <in> <out> [-key c] [-ts c] [-value c] [-tiers n] — RFM
      //   user-value tier scoring
      case "rfm" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.rfmScores(
            readTs(spark, in, fv("-ts", "ts")), fv("-key", "user_id"),
            fv("-ts", "ts"), fv("-value", "value"),
            fv("-tiers", "5").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"rfm: wrote $out")

      // centroidEval <in> <out> [-label c] [-vec c] — nearest-centroid
      //   label confusion over an embedding table (integral labels)
      case "centroidEval" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.ClusteringOps.nearestCentroidEval(
            spark.read.parquet(in), fv("-label", "label"),
            fv("-vec", "embedding"))
          .write.mode("overwrite").parquet(out)
        println(s"centroidEval: wrote $out")

      // burst <in> <out> [-key c] [-ts c] [-bucket ms] [-threshold n]
      //   — fixed-bucket burst-activity (bot-likelihood) report
      case "burst" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.burstActivityReport(
            readTs(spark, in, fv("-ts", "ts")), fv("-key", "user_id"),
            fv("-ts", "ts"), fv("-bucket", "60000").toLong,
            fv("-threshold", "30").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"burst: wrote $out")

      // fd <in> <out> -det c -dep c [-k n] — functional-dependency
      //   violation audit (determinants with >1 distinct dependent)
      case "fd" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (det, dep) = (fv("-det", ""), fv("-dep", ""))
        if (det.isEmpty || dep.isEmpty) sys.error("fd needs -det and -dep")
        graft.operators.ProfileOps.fdViolations(
            spark.read.parquet(in), det, dep, fv("-k", "20").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"fd: wrote $out")

      // trigrams <in> <out> [-key c] [-type c] [-ts c] [-id c] [-k n] —
      //   top-k consecutive event-type trigram paths
      case "trigrams" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.eventPathTrigrams(
            readTs(spark, in, fv("-ts", "ts")), fv("-key", "user_id"),
            fv("-type", "event_type"), fv("-ts", "ts"),
            fv("-id", "event_id"), fv("-k", "20").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"trigrams: wrote $out")

      // centroidDrift <in> <out> [-group c] [-vec c] — per-group
      //   embedding-centroid cosine vs the global centroid
      case "centroidDrift" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.ClusteringOps.sourceCentroidDrift(
            spark.read.parquet(in), fv("-group", "label"),
            fv("-vec", "embedding"))
          .write.mode("overwrite").parquet(out)
        println(s"centroidDrift: wrote $out")

      // growth <in> <out> [-text c] [-day c] — corpus growth curve
      //   (new vs re-seen fingerprints per epoch, cumulative distinct)
      case "growth" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.SnapshotOps.corpusGrowthCurve(
            spark.read.parquet(in), fv("-text", "text"),
            fv("-day", "day"))
          .write.mode("overwrite").parquet(out)
        println(s"growth: wrote $out")

      // linkGraph <in> <out> [-src c] [-html c] [-id c] [-top k] —
      //   domain-level link graph from crawled HTML (edges, or the
      //   top-k most-linked destination domains with -top)
      case "linkGraph" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val edges = graft.operators.WebOps.linkDomainEdges(
          spark.read.parquet(in), fv("-src", "source"),
          fv("-html", "html"), fv("-id", "doc_id"))
        val res = fv("-top", "") match {
          case "" => edges
          case k => graft.operators.WebOps.topLinkedDomains(edges, k.toInt)
        }
        res.write.mode("overwrite").parquet(out)
        println(s"linkGraph: wrote $out")

      // rendezvous <in> <out> -from n -to m [-key c] — rendezvous-shard
      //   resize audit (keys moved, exact integer permille)
      case "rendezvous" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (f, tt) = (fv("-from", ""), fv("-to", ""))
        if (f.isEmpty || tt.isEmpty) sys.error("rendezvous needs -from/-to")
        graft.operators.ShardOps.rendezvousMoveReport(
            spark.read.parquet(in), fv("-key", "doc_id"),
            f.toInt, tt.toInt)
          .write.mode("overwrite").parquet(out)
        println(s"rendezvous: wrote $out")

      // ksDrift <in> <out> -side c -value c — two-sample KS statistic
      //   between side=false (reference) and side=true (current)
      case "ksDrift" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (sc, vc) = (fv("-side", ""), fv("-value", ""))
        if (sc.isEmpty || vc.isEmpty) sys.error("ksDrift needs -side/-value")
        graft.operators.Stats.ksDrift(spark.read.parquet(in), sc, vc)
          .write.mode("overwrite").parquet(out)
        println(s"ksDrift: wrote $out")

      // mi <in> <out> -a colA -b colB — mutual information / NMI between
      //   two categorical columns
      case "mi" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (a, b) = (fv("-a", ""), fv("-b", ""))
        if (a.isEmpty || b.isEmpty) sys.error("mi needs -a/-b")
        graft.operators.Stats.mutualInformationReport(
            spark.read.parquet(in), a, b)
          .write.mode("overwrite").parquet(out)
        println(s"mi: wrote $out")

      // kappa <in> <out> -a colA -b colB — Cohen's kappa inter-rater
      //   agreement between two label columns
      case "kappa" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (a, b) = (fv("-a", ""), fv("-b", ""))
        if (a.isEmpty || b.isEmpty) sys.error("kappa needs -a/-b")
        graft.operators.Stats.cohenKappa(spark.read.parquet(in), a, b)
          .write.mode("overwrite").parquet(out)
        println(s"kappa: wrote $out")

      // benford <in> <out> [-group c] -value c — first-digit Benford
      //   audit with chi-square per group
      case "benford" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val vc = fv("-value", "")
        if (vc.isEmpty) sys.error("benford needs -value")
        graft.operators.Stats.benfordAudit(
            spark.read.parquet(in), fv("-group", "source"), vc)
          .write.mode("overwrite").parquet(out)
        println(s"benford: wrote $out")

      // silhouette <in> <out> [-label c] [-vec c] — simplified
      //   (centroid) silhouette per label
      case "silhouette" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.ClusteringOps.simplifiedSilhouette(
            spark.read.parquet(in), fv("-label", "label"),
            fv("-vec", "embedding"))
          .write.mode("overwrite").parquet(out)
        println(s"silhouette: wrote $out")

      // auc <in> <out> -group c -score c -label c — per-group ROC AUC
      //   (Mann-Whitney rank identity, exact midrank ties)
      case "auc" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (g, sc, lb) =
          (fv("-group", ""), fv("-score", ""), fv("-label", ""))
        if (g.isEmpty || sc.isEmpty || lb.isEmpty)
          sys.error("auc needs -group/-score/-label")
        graft.operators.Stats.aucByGroup(spark.read.parquet(in), g, sc, lb)
          .write.mode("overwrite").parquet(out)
        println(s"auc: wrote $out")

      // entropy <in> <out> -group c -value c — Shannon entropy of the
      //   value distribution within each group
      case "entropy" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (g, v) = (fv("-group", ""), fv("-value", ""))
        if (g.isEmpty || v.isEmpty) sys.error("entropy needs -group/-value")
        graft.operators.Stats.entropyByGroup(spark.read.parquet(in), g, v)
          .write.mode("overwrite").parquet(out)
        println(s"entropy: wrote $out")

      // flesch <in> <out> [-id c] [-text c] — Flesch reading-ease score
      case "flesch" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TextOps.fleschReadability(
            spark.read.parquet(in), fv("-id", "doc_id"),
            fv("-text", "text"))
          .write.mode("overwrite").parquet(out)
        println(s"flesch: wrote $out")

      // acf <in> <out> [-key c] [-ts c] [-bucket ms] [-lag k] —
      //   lag-k autocorrelation of bucketed volumes per key
      case "acf" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TimeSeriesOps.autocorrByKey(
            spark.read.parquet(in), fv("-key", "event_type"),
            fv("-ts", "ts"), fv("-bucket", "86400000").toLong,
            fv("-lag", "7").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"acf: wrote $out")

      // ppr <edges.parquet> <seeds.parquet> <out> [-iters n] [-k n] —
      //   personalized PageRank from a seed node set
      case "ppr" :: in :: seedsP :: out :: rest =>
        val fv = flagValue(rest) _
        val edges = spark.read.parquet(in)
        val seeds = spark.read.parquet(seedsP)
        val iters = fv("-iters", "5").toInt
        val res = fv("-k", "") match {
          case "" =>
            graft.operators.GraphOps.personalizedPageRank(edges, seeds,
              iters)
          case k =>
            graft.operators.GraphOps.personalizedPageRankTopK(edges,
              seeds, iters, k.toInt)
        }
        res.write.mode("overwrite").parquet(out)
        println(s"ppr: wrote $out")

      // vocabCoverage <in> <out> [-text c] [-ks 1000,10000] — top-k
      //   type coverage of the corpus token mass
      case "vocabCoverage" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TokenizerOps.vocabCoverage(
            spark.read.parquet(in), fv("-text", "text"),
            fv("-ks", "1000,10000,50000").split(",").toSeq
              .map(_.trim).filter(_.nonEmpty).map(_.toInt))
          .write.mode("overwrite").parquet(out)
        println(s"vocabCoverage: wrote $out")

      // tstv <in> <out> -group c [-ref c] [-alt c] — transition/
      //   transversion census per group (SNVs only)
      case "tstv" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val g = fv("-group", "")
        if (g.isEmpty) sys.error("tstv needs -group")
        graft.operators.VariantQc.tstvRatio(spark.read.parquet(in), g,
            fv("-ref", "referenceAllele"), fv("-alt", "alternateAllele"))
          .write.mode("overwrite").parquet(out)
        println(s"tstv: wrote $out")

      // hwe <in> <out> -site c -gt c — Hardy-Weinberg chi-square per
      //   site from genotype classes (0/1/2)
      case "hwe" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (sc, gc) = (fv("-site", ""), fv("-gt", ""))
        if (sc.isEmpty || gc.isEmpty) sys.error("hwe needs -site/-gt")
        graft.operators.VariantQc.hardyWeinberg(
            spark.read.parquet(in), sc, gc)
          .write.mode("overwrite").parquet(out)
        println(s"hwe: wrote $out")

      // concordance <a> <b> <out> -keys k1,k2 -class c — genotype
      //   confusion grid between two callsets
      case "concordance" :: a :: b :: out :: rest =>
        val fv = flagValue(rest) _
        val (ks, cc) = (fv("-keys", ""), fv("-class", ""))
        if (ks.isEmpty || cc.isEmpty)
          sys.error("concordance needs -keys/-class")
        graft.operators.VariantQc.genotypeConcordance(
            spark.read.parquet(a), spark.read.parquet(b),
            ks.split(",").toSeq.map(_.trim).filter(_.nonEmpty), cc)
          .write.mode("overwrite").parquet(out)
        println(s"concordance: wrote $out")

      // afSpectrum <in> <out> -ac c -an c [-bins n] — allele-frequency
      //   spectrum histogram
      case "afSpectrum" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (ac, an) = (fv("-ac", ""), fv("-an", ""))
        if (ac.isEmpty || an.isEmpty) sys.error("afSpectrum needs -ac/-an")
        graft.operators.VariantQc.alleleFrequencySpectrum(
            spark.read.parquet(in), ac, an, fv("-bins", "20").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"afSpectrum: wrote $out")

      // covUniformity <in> <out> — coverage-evenness census per contig
      //   over (referenceName, start, end, count) intervals
      case "covUniformity" :: in :: out :: rest =>
        graft.operators.VariantQc.coverageUniformity(
            spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"covUniformity: wrote $out")

      // fleiss <in> <out> -item c -label c — Fleiss' kappa over
      //   constant-rater-count items
      case "fleiss" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (ic, lc) = (fv("-item", ""), fv("-label", ""))
        if (ic.isEmpty || lc.isEmpty) sys.error("fleiss needs -item/-label")
        graft.operators.Stats.fleissKappa(spark.read.parquet(in), ic, lc)
          .write.mode("overwrite").parquet(out)
        println(s"fleiss: wrote $out")

      // bootstrapCi <in> <out> -group c -value c -id c [-b n] [-lo n]
      //   [-hi n] — deterministic Poisson-bootstrap mean CI per group
      case "bootstrapCi" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (g, v, id) = (fv("-group", ""), fv("-value", ""), fv("-id", ""))
        if (g.isEmpty || v.isEmpty || id.isEmpty)
          sys.error("bootstrapCi needs -group/-value/-id")
        graft.operators.SamplingOps.bootstrapCi(spark.read.parquet(in),
            g, v, id, fv("-b", "32").toInt, fv("-lo", "50").toInt,
            fv("-hi", "950").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"bootstrapCi: wrote $out")

      // seasonal <in> <out> [-key c] [-ts c] — weekly (dow, hour)
      //   seasonality profile per key
      case "seasonal" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TimeSeriesOps.seasonalProfile(
            readTs(spark, in, fv("-ts", "ts")),
            fv("-key", "event_type"), fv("-ts", "ts"))
          .write.mode("overwrite").parquet(out)
        println(s"seasonal: wrote $out")

      // mendel <in> <out> -father c -mother c -child c — Mendelian-
      //   consistency grid over trio genotype classes
      case "mendel" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (fc, mc, cc) =
          (fv("-father", ""), fv("-mother", ""), fv("-child", ""))
        if (fc.isEmpty || mc.isEmpty || cc.isEmpty)
          sys.error("mendel needs -father/-mother/-child")
        graft.operators.VariantQc.mendelianViolations(
            spark.read.parquet(in), fc, mc, cc)
          .write.mode("overwrite").parquet(out)
        println(s"mendel: wrote $out")

      // kinship <in> <out> -sample c -site c -gt c [-maxSamples n] —
      //   pairwise KING-robust kinship over a bounded cohort
      case "kinship" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (sm, st, gt) =
          (fv("-sample", ""), fv("-site", ""), fv("-gt", ""))
        if (sm.isEmpty || st.isEmpty || gt.isEmpty)
          sys.error("kinship needs -sample/-site/-gt")
        graft.operators.VariantQc.kingKinship(spark.read.parquet(in),
            sm, st, gt, fv("-maxSamples", "1000").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"kinship: wrote $out")

      // inbreeding <in> <out> -sample c -site c -gt c — per-sample
      //   inbreeding coefficient F vs cohort allele frequencies
      case "inbreeding" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (sm, st, gt) =
          (fv("-sample", ""), fv("-site", ""), fv("-gt", ""))
        if (sm.isEmpty || st.isEmpty || gt.isEmpty)
          sys.error("inbreeding needs -sample/-site/-gt")
        graft.operators.VariantQc.inbreedingF(spark.read.parquet(in),
            sm, st, gt)
          .write.mode("overwrite").parquet(out)
        println(s"inbreeding: wrote $out")

      // subMatrix <in> <out> [-ref c] [-alt c] — 12-class SNV
      //   substitution census with permille shares
      case "subMatrix" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.VariantQc.substitutionMatrix(
            spark.read.parquet(in), fv("-ref", "referenceAllele"),
            fv("-alt", "alternateAllele"))
          .write.mode("overwrite").parquet(out)
        println(s"subMatrix: wrote $out")

      // indelSpectrum <in> <out> [-ref c] [-alt c] [-maxLen n] — indel
      //   length histogram with edge-bin clamping
      case "indelSpectrum" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.VariantQc.indelLengthSpectrum(
            spark.read.parquet(in), fv("-ref", "referenceAllele"),
            fv("-alt", "alternateAllele"), fv("-maxLen", "20").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"indelSpectrum: wrote $out")

      // callRate <in> <out> -sample c -gt c — per-sample call-rate /
      //   genotype-class census (NULL gt = missing)
      case "callRate" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (sm, gt) = (fv("-sample", ""), fv("-gt", ""))
        if (sm.isEmpty || gt.isEmpty)
          sys.error("callRate needs -sample/-gt")
        graft.operators.VariantQc.callRate(spark.read.parquet(in), sm, gt)
          .write.mode("overwrite").parquet(out)
        println(s"callRate: wrote $out")

      // conformal <cal> <eval> <out> -score c [-alpha permille] —
      //   split-conformal threshold + achieved coverage
      case "conformal" :: calP :: evalP :: out :: rest =>
        val fv = flagValue(rest) _
        val sc = fv("-score", "")
        if (sc.isEmpty) sys.error("conformal needs -score")
        graft.operators.LabelQaOps.conformalCoverage(
            spark.read.parquet(calP), spark.read.parquet(evalP), sc,
            fv("-alpha", "100").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"conformal: wrote $out")

      // calibrationBins <in> <out> -conf c -correct c [-bins n] —
      //   reliability/ECE report over stated confidence permille
      case "calibrationBins" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (cc, ok) = (fv("-conf", ""), fv("-correct", ""))
        if (cc.isEmpty || ok.isEmpty)
          sys.error("calibrationBins needs -conf/-correct")
        graft.operators.LabelQaOps.calibrationBins(
            spark.read.parquet(in), cc, ok, fv("-bins", "10").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"calibrationBins: wrote $out")

      // trimmedMean <in> <out> -group c -value c -tie c [-lo n] [-hi n]
      //   — per-group trimmed mean (permille trim band)
      case "trimmedMean" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (g, v, tb) =
          (fv("-group", ""), fv("-value", ""), fv("-tie", ""))
        if (g.isEmpty || v.isEmpty || tb.isEmpty)
          sys.error("trimmedMean needs -group/-value/-tie")
        graft.operators.Stats.trimmedMeanByGroup(spark.read.parquet(in),
            g, v, tb, fv("-lo", "50").toInt, fv("-hi", "950").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"trimmedMean: wrote $out")

      // atkinson <in> <out> -group c -value c — Atkinson (eps=2)
      //   inequality index per group
      case "atkinson" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (g, v) = (fv("-group", ""), fv("-value", ""))
        if (g.isEmpty || v.isEmpty) sys.error("atkinson needs -group/-value")
        graft.operators.Stats.atkinsonIndex(spark.read.parquet(in), g, v)
          .write.mode("overwrite").parquet(out)
        println(s"atkinson: wrote $out")

      // mad <in> <out> -group c -value c -tie c — per-group median and
      //   median absolute deviation
      case "mad" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (g, v, tb) =
          (fv("-group", ""), fv("-value", ""), fv("-tie", ""))
        if (g.isEmpty || v.isEmpty || tb.isEmpty)
          sys.error("mad needs -group/-value/-tie")
        graft.operators.Stats.madByGroup(spark.read.parquet(in), g, v, tb)
          .write.mode("overwrite").parquet(out)
        println(s"mad: wrote $out")

      // confidentLearning <in> <out> -given c -pred c -conf c —
      //   confident-learning label-noise census
      case "confidentLearning" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (g, p, c) =
          (fv("-given", ""), fv("-pred", ""), fv("-conf", ""))
        if (g.isEmpty || p.isEmpty || c.isEmpty)
          sys.error("confidentLearning needs -given/-pred/-conf")
        graft.operators.LabelQaOps.confidentLearningGrid(
            spark.read.parquet(in), g, p, c)
          .write.mode("overwrite").parquet(out)
        println(s"confidentLearning: wrote $out")

      // numProfile <in> <out> -cols a,b,c — single-scan numeric profile
      //   (nulls, min/max, exact sum, integer-floor mean/variance)
      case "numProfile" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val cs = fv("-cols", "")
        if (cs.isEmpty) sys.error("numProfile needs -cols")
        graft.operators.ProfileOps.numericProfile(
            spark.read.parquet(in),
            cs.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          .write.mode("overwrite").parquet(out)
        println(s"numProfile: wrote $out")

      // columnDrift <a.parquet> <b.parquet> <out> -cols a,b [-buckets n]
      //   — per-column value-distribution drift (PSI over hash buckets)
      case "columnDrift" :: aP :: bP :: out :: rest =>
        val fv = flagValue(rest) _
        val cs = fv("-cols", "")
        if (cs.isEmpty) sys.error("columnDrift needs -cols")
        graft.operators.ProfileOps.columnDrift(
            spark.read.parquet(aP), spark.read.parquet(bP),
            cs.split(",").toSeq.map(_.trim).filter(_.nonEmpty),
            fv("-buckets", "64").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"columnDrift: wrote $out")

      // piiCensus <in> <out> [-text c] [-source c] — per-source PII
      //   risk census (docs-with-PII share, hits per class)
      case "piiCensus" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TextOps.piiCensus(
            spark.read.parquet(in), fv("-text", "text"),
            fv("-source", "source"))
          .write.mode("overwrite").parquet(out)
        println(s"piiCensus: wrote $out")

      // splitAudit <in> <out> -split c -ts c -order a,b,c — temporal
      //   split leakage audit per consecutive boundary
      case "splitAudit" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (sc, tc, ord) =
          (fv("-split", ""), fv("-ts", ""), fv("-order", ""))
        if (sc.isEmpty || tc.isEmpty || ord.isEmpty)
          sys.error("splitAudit needs -split/-ts/-order")
        graft.operators.SamplingOps.temporalSplitAudit(
            spark.read.parquet(in), sc, tc,
            ord.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          .write.mode("overwrite").parquet(out)
        println(s"splitAudit: wrote $out")

      // joinProbe <a.parquet> <b.parquet> <out> -keyA c -keyB c — exact
      //   pre-join cardinality probe (join_rows, worst-key fanout)
      case "joinProbe" :: aP :: bP :: out :: rest =>
        val fv = flagValue(rest) _
        val (ka, kb) = (fv("-keyA", ""), fv("-keyB", ""))
        if (ka.isEmpty || kb.isEmpty) sys.error("joinProbe needs -keyA/-keyB")
        graft.operators.SkewOps.joinSizeProbe(
            spark.read.parquet(aP), ka, spark.read.parquet(bP), kb)
          .write.mode("overwrite").parquet(out)
        println(s"joinProbe: wrote $out")

      // transitionLatency <in> <out> [-key c] [-type c] [-ts c] [-id c] —
      //   per-transition latency percentiles
      case "transitionLatency" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.transitionLatency(
            readTs(spark, in, fv("-ts", "ts")), fv("-key", "user_id"),
            fv("-type", "event_type"), fv("-ts", "ts"),
            fv("-id", "event_id"))
          .write.mode("overwrite").parquet(out)
        println(s"transitionLatency: wrote $out")

      // robustScale <in> <out> -group c -value c -tie c — median/IQR
      //   scaling within each group
      case "robustScale" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (g, v, tb) =
          (fv("-group", ""), fv("-value", ""), fv("-tie", ""))
        if (g.isEmpty || v.isEmpty || tb.isEmpty)
          sys.error("robustScale needs -group/-value/-tie")
        graft.operators.Stats.robustScale(spark.read.parquet(in), g, v, tb)
          .write.mode("overwrite").parquet(out)
        println(s"robustScale: wrote $out")

      // skipgram <in> <out> [-id c] [-text c] [-window n] [-min n] —
      //   skip-gram (center, context) co-occurrence counts
      case "skipgram" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TextOps.skipGramPairs(
            spark.read.parquet(in), fv("-id", "doc_id"),
            fv("-text", "text"), fv("-window", "2").toInt,
            fv("-min", "5").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"skipgram: wrote $out")

      // jsonProfile <in> <out> -col c — JSON key discovery (presence /
      //   cardinality / type census) over a semi-structured column
      case "jsonProfile" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val jc = fv("-col", "")
        if (jc.isEmpty) sys.error("jsonProfile needs -col")
        graft.operators.ProfileOps.jsonKeyProfile(
            spark.read.parquet(in), jc)
          .write.mode("overwrite").parquet(out)
        println(s"jsonProfile: wrote $out")

      // moments <in> <out> -group c -value c — mean/variance/skew/
      //   kurtosis census per group
      case "moments" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (g, v) = (fv("-group", ""), fv("-value", ""))
        if (g.isEmpty || v.isEmpty) sys.error("moments needs -group/-value")
        graft.operators.Stats.momentsByGroup(spark.read.parquet(in), g, v)
          .write.mode("overwrite").parquet(out)
        println(s"moments: wrote $out")

      // rankedEval <in> <out> -query c -rank c -rel c [-k n] — P@k /
      //   MRR / NDCG@k per query against boolean relevance
      case "rankedEval" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (qc, rc, lc) =
          (fv("-query", ""), fv("-rank", ""), fv("-rel", ""))
        if (qc.isEmpty || rc.isEmpty || lc.isEmpty)
          sys.error("rankedEval needs -query/-rank/-rel")
        graft.operators.RankFusionOps.rankedEval(
            spark.read.parquet(in), qc, rc, lc, fv("-k", "10").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"rankedEval: wrote $out")

      // targetEncode <in> <out> -cat c -value c [-m n] — smoothed
      //   target encoding (shrunken category means)
      case "targetEncode" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        val (cc, vc) = (fv("-cat", ""), fv("-value", ""))
        if (cc.isEmpty || vc.isEmpty)
          sys.error("targetEncode needs -cat/-value")
        graft.operators.Stats.targetEncode(
            spark.read.parquet(in), cc, vc, fv("-m", "20").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"targetEncode: wrote $out")

      // hapax <in> <out> [-text c] [-source c] — lexical richness
      //   (tokens/types/hapax/TTR) per source
      case "hapax" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TokenizerOps.hapaxStats(
            spark.read.parquet(in), fv("-text", "text"),
            fv("-source", "source"))
          .write.mode("overwrite").parquet(out)
        println(s"hapax: wrote $out")

      // cusum <in> <out> [-key c] [-ts c] [-bucket ms] — CUSUM
      //   level-shift changepoint per key over bucketed volumes
      case "cusum" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.cusumChangepoint(
            spark.read.parquet(in), fv("-key", "event_type"),
            fv("-ts", "ts"), fv("-bucket", "86400000").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"cusum: wrote $out")

      // profileDrift <a.parquet> <b.parquet> <out> -colsA a,b -colsB a,c
      //   — per-column snapshot drift report
      case "profileDrift" :: aP :: bP :: out :: rest =>
        val fv = flagValue(rest) _
        def cols(flag: String): Seq[String] = {
          val v = fv(flag, "")
          if (v.isEmpty) sys.error(s"profileDrift needs $flag c1,c2,…")
          v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        }
        graft.operators.ProfileOps.profileDrift(
            spark.read.parquet(aP), cols("-colsA"),
            spark.read.parquet(bP), cols("-colsB"))
          .write.mode("overwrite").parquet(out)
        println(s"profileDrift: wrote $out")

      // modularity <edges.parquet> <labels.parquet> <out> — Newman
      //   modularity of a labeled partition; edges (src,dst), labels
      //   (id,label)
      case "modularity" :: edgesP :: labelsP :: out :: Nil =>
        graft.operators.GraphOps.modularity(
            spark.read.parquet(edgesP), spark.read.parquet(labelsP))
          .write.mode("overwrite").parquet(out)
        println(s"modularity: wrote $out")

      // interarrival <in> <out> [-key c] [-ts c] [-id c] [-group c] —
      //   per-group consecutive-event gap percentiles
      case "interarrival" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.interArrivalStats(
            readTs(spark, in, fv("-ts", "ts")),
            fv("-key", "user_id"), fv("-ts", "ts"),
            fv("-id", "event_id"), fv("-group", "event_type"))
          .write.mode("overwrite").parquet(out)
        println(s"interarrival: wrote $out")

      // winsorize <in> <out> [-group c] [-value c] [-tie c] —
      //   p1/p99 winsorization audit
      case "winsorize" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Stats.winsorizeReport(
            spark.read.parquet(in), fv("-group", "event_type"),
            fv("-value", "cents"), fv("-tie", "event_id"))
          .write.mode("overwrite").parquet(out)
        println(s"winsorize: wrote $out")

      // smooth <in> <out> [-group c] [-day c] [-value c] [-window k] —
      //   dyadic recency-weighted trailing mean
      case "smooth" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.TimeSeriesOps.dyadicTrailingMean(
            spark.read.parquet(in), fv("-group", "event_type"),
            fv("-day", "day"), fv("-value", "n"), fv("-window", "8").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"smooth: wrote $out")

      // assortativity <edges.parquet> <out> — degree assortativity of an
      //   undirected graph; edges (src,dst)
      case "assortativity" :: edgesP :: out :: Nil =>
        graft.operators.GraphOps.assortativity(spark.read.parquet(edgesP))
          .write.mode("overwrite").parquet(out)
        println(s"assortativity: wrote $out")

      // attribution <in> <out> [-key c] [-type c] [-ts c] [-id c]
      //   [-touch t] [-conv t] [-window ms] — first-touch attribution
      case "attribution" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Sessionize.firstTouchAttribution(
            readTs(spark, in, fv("-ts", "ts")), fv("-key", "user_id"),
            fv("-type", "event_type"), fv("-ts", "ts"),
            fv("-id", "event_id"), fv("-touch", "view"),
            fv("-conv", "purchase"), fv("-window", "86400000").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"attribution: wrote $out")

      // cappedTopK <in> <out> [-score c] [-group c] [-tie c] [-k n]
      //   [-cap n] — global top-k under a per-group cap
      case "cappedTopK" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.SamplingOps.cappedTopK(
            spark.read.parquet(in), fv("-score", "n_chars"),
            fv("-group", "source"), fv("-tie", "doc_id"),
            fv("-k", "20").toInt, fv("-cap", "3").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"cappedTopK: wrote $out")

      // madOutliers <in> <out> [-group c] [-value c] [-tie c] [-k permille]
      //   — MAD robust outlier flags
      case "madOutliers" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.Stats.madOutliers(
            spark.read.parquet(in), fv("-group", "event_type"),
            fv("-value", "cents"), fv("-tie", "event_id"),
            fv("-k", "3500").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"madOutliers: wrote $out")

      // psi <in> <out> [-side c] [-bucket c] — PSI distribution drift
      //   (side boolean col: true = current slice)
      case "psi" :: in :: out :: rest =>
        val fv = flagValue(rest) _
        graft.operators.CorpusCompareOps.psiReport(
            spark.read.parquet(in), fv("-side", "is_cur"),
            fv("-bucket", "b"))
          .write.mode("overwrite").parquet(out)
        println(s"psi: wrote $out")

      // mergecc <labels.parquet> <pairs.parquet> <out> — incremental
      //   connected-component merge (labels (id,cluster_id) + new pairs)
      case "mergecc" :: labelsP :: pairsP :: out :: Nil =>
        graft.operators.DedupOps.mergeClusters(
            spark.read.parquet(labelsP), spark.read.parquet(pairsP))
          .write.mode("overwrite").parquet(out)
        println(s"mergecc: wrote $out")

      case other =>
        System.err.println(s"Unknown command: ${other.headOption.getOrElse("")}" +
          "\nCommands: transformAlignments transformFeatures transformFragments " +
          "transformSequences transformSlices flagstat countKmers countSliceKmers " +
          "coverage vcf2parquet mergeShards adam2fastq" +
          "\n  transformAlignments <in(.sam|.bam|.cram|.fq|parquet)> <out> " +
          "[-paired_fastq r2] [-read_group id] [-concat f] " +
          "[-region_predicate chr:a-b,...] [-mark_duplicates] " +
          "[-recalibrate [-known_snps sites.vcf]] [-realign ref " +
          "[-log_odds_threshold x]] [-md_tag ref] " +
          "[-bin_quality_scores lo,hi,v;...] [-sort|-sort_by_read_name|" +
          "-sort_by_reference_position_and_index] [-repartition n] " +
          "[-coalesce n [-force_shuffle_coalesce]] [-single] " +
          "[-partition_by_start_pos [-partition_bin_size n]]" +
          "\n  transformVariants|transformGenotypes <in> <out> [-coalesce n " +
          "[-force_shuffle_coalesce]] [-sort_on_save|" +
          "-sort_lexicographically_on_save] [-single] " +
          "[-partition_by_start_pos [-partition_bin_size n]] " +
          "[-stringency SILENT|LENIENT|STRICT] [-nested_annotations]" +
          "\n  view <in> [-f N] [-F N] [-g N] [-G N] [-q MINQ] [-c] [-o out|out] [-single]" +
          "\n  print <file.parquet>... [-o localFile] [-pretty]" +
          "\n  dedup <in.parquet> <out.parquet> [-id c] [-text c] [-method exact|minhash|winnowing|edit]" +
          "\n  score <in.parquet> <out.parquet> [-text c]" +
          "\n  extractText <in.parquet> <out.parquet> [-html c] [-out c]" +
          "\n  urlDedup <in.parquet> <out.parquet> [-url c] [-id c]" +
          "\n  split <in.parquet> <out.parquet> [-key c] [-fractions n=f,...] [-salt s]" +
          "\n  mix <in.parquet> <out.parquet> [-strata c] [-key c] [-alpha a] [-target n] [-salt s]" +
          "\n  decontaminate <corpus.parquet> <bench.parquet> <out.parquet> [-id c] [-text c] [-benchText c] [-n N] [-maxFrac f]" +
          "\n  lineDedup <in.parquet> <out.parquet> [-id c] [-text c] [-minDocs n]" +
          "\n  chunk <in.parquet> <out.parquet> [-id c] [-text c] [-size n] [-stride n]" +
          "\n  collocations <in.parquet> <out.parquet> [-text c] [-minCount n] [-k n]" +
          "\n  transitions <in.parquet> <out.parquet> [-key c] [-type c] [-ts c] [-tie c]" +
          "\n  percentiles <in.parquet> <out.parquet> [-group c] [-value c] [-tie c] [-ps p,...]" +
          "\n  zorder <in.parquet> <out.parquet> -cols a,b [-files n] [-bits n]" +
          "\n  heavyHitters <in.parquet> <out.parquet> [-text c] [-depth n] [-width n] [-top n]" +
          "\n  hll <in.parquet> <out.parquet> [-text c] [-p n]" +
          "\n  sourceOverlap <in.parquet> <out.parquet> [-group c] [-text c] [-n shingleN] [-k n]" +
          "\n  pagerank <edges.parquet> <out.parquet> [-iters n] [-top n] [-scale n]" +
          "\n  imageDedup <media.parquet> <out.parquet> [-maxDist n] [-bands n]" +
          "\n  audioDedup <media.parquet> <out.parquet> [-maxDist n] [-bands n]" +
          "\n  warcExtract <warc-glob> <out.parquet>" +
          "\n  svLink <in.vcf|in.parquet> <out.parquet> [-events]" +
          "\n  bpe <in.parquet> <out.parquet> [-text c] [-merges n] [-vocabStats [-top n]]" +
          "\n  dedupSplit <in.parquet> <out.parquet> [-id c] [-text c] [-fractions n=f,...] [-salt s]" +
          "\n  snapshotDelta <old.parquet> <new.parquet> <out.parquet> [-id c] [-text c] [-carry c,...] [-report]" +
          "\n  budgetSelect <in.parquet> <out.parquet> -budget N [-id c] [-score c] [-tokens c]" +
          "\n  calibrate <in.parquet> <out.parquet> [-strata c] [-id c] [-score c] [-keep f]" +
          "\n  nextEvents <in.parquet> <out.parquet> [-key c] [-type c] [-ts c] [-tie c] [-history n]" +
          "\n  boilerplate <in.parquet> <out.parquet> [-id c] [-text c] [-group c] [-minDocs n]" +
          "\n  ntile <in.parquet> <out.parquet> -by c [-tie c] [-n k]" +
          "\n  skewReport <in.parquet> -key c [-top k] [-out p.parquet]" +
          "\n  sourceNovelty <in.parquet> <out.parquet> [-text c] [-source c]" +
          "\n  sourceSim <in.parquet> <out.parquet> [-text c] [-source c] [-buckets n]" +
          "\n  chi2 <in.parquet> <out.parquet> [-label c] [-text c] [-buckets n] [-top k]" +
          "\n  rrf <a.parquet> <b.parquet> <out.parquet> [-id c] [-rank c] [-k n] [-top n]" +
          "\n  gini <in.parquet> <out.parquet> [-group c] [-value c] [-tie c]" +
          "\n  profile <in.parquet> <out.parquet> [-cols a,b,c]" +
          "\n  actives <in.parquet> <out.parquet> [-key c] [-ts c] [-window d]" +
          "\n  retention <in.parquet> <out.parquet> [-key c] [-ts c]" +
          "\n  calfill <in.parquet> <out.parquet> [-group c] [-day c] [-value c]" +
          "\n  abtest <in.parquet> <out.parquet> [-group c] [-variant c] [-outcome c]" +
          "\n  anomalies <in.parquet> <out.parquet> [-group c] [-day c] [-n c] [-lookback d] [-minHistory n] [-k permille]" +
          "\n  fkAudit <child.parquet> <parent.parquet> <out.parquet> -childKey c -parentKey c" +
          "\n  pkAudit <in.parquet> <out.parquet> -cols a[,b]" +
          "\n  calibration <in.parquet> <out.parquet> [-score c] [-outcome c] [-tie c] [-n k]" +
          "\n  kanon <in.parquet> <out.parquet> -cols a,b[,c] [-k n]" +
          "\n  trend <in.parquet> <out.parquet> [-group c] [-x c] [-y c]" +
          "\n  wilson <in.parquet> <out.parquet> [-group c] [-pass c] [-z x]" +
          "\n  phrase <in.parquet> <out.parquet> -words \"w1 w2\" [-id c] [-text c]" +
          "\n  lpa <edges.parquet> <out.parquet> [-rounds n] [-top n]" +
          "\n  nbRoute <train.parquet> <test.parquet> <out.parquet> [-label c] [-id c] [-text c] [-buckets n] [-confusion]" +
          "\n  mmr <embeddings.parquet> <out.parquet> [-query id] [-k n] [-lambda x] [-cands n] [-id c] [-vec c]" +
          "\n  waterfill <counts.parquet> <out.parquet> (-budget N | -fraction NUM/DEN) [-source c] [-avail c] [-weight c]" +
          "\n  shards <in.parquet> <out.parquet> [-size c] [-tie c] [-n k] [-report]" +
          "\n  modularity <edges.parquet> <labels.parquet> <out.parquet>" +
          "\n  interarrival <in.parquet> <out.parquet> [-key c] [-ts c] [-id c] [-group c]" +
          "\n  winsorize <in.parquet> <out.parquet> [-group c] [-value c] [-tie c]" +
          "\n  smooth <in.parquet> <out.parquet> [-group c] [-day c] [-value c] [-window k]" +
          "\n  assortativity <edges.parquet> <out.parquet>" +
          "\n  attribution <in.parquet> <out.parquet> [-key c] [-type c] [-ts c] [-id c] [-touch t] [-conv t] [-window ms]" +
          "\n  mergecc <labels.parquet> <pairs.parquet> <out.parquet>" +
          "\n  psi <in.parquet> <out.parquet> [-side c] [-bucket c]" +
          "\n  cappedTopK <in.parquet> <out.parquet> [-score c] [-group c] [-tie c] [-k n] [-cap n]" +
          "\n  madOutliers <in.parquet> <out.parquet> [-group c] [-value c] [-tie c] [-k permille]" +
          "\n  pctRank <in.parquet> <out.parquet> [-group c] [-score c]" +
          "\n  horizonDedup <in.parquet> <out.parquet> -horizon MS [-key c | -text c] [-ts c] [-tie c]" +
          "\n  hashSample <in.parquet> <out.parquet> [-group c] [-id c] [-n k]" +
          "\n  paddingWaste <in.parquet> <out.parquet> [-len c] [-caps 128,256,512]" +
          "\n  neyman <in.parquet> <out.parquet> [-stratum c] [-value c] [-budget n]" +
          "\n  sourceOverlapExact <in.parquet> <out.parquet> [-text c] [-source c]" +
          "\n  oov <in.parquet> <vocab.parquet> <out.parquet> [-text c] [-source c] [-vocab c]" +
          "\n  waterfall <in.parquet> <out.parquet> -rules 'name:expr;name:expr'" +
          "\n  hits <edges.parquet> <out.parquet> [-iters n] [-k n]" +
          "\n  rfm <in.parquet> <out.parquet> [-key c] [-ts c] [-value c] [-tiers n]" +
          "\n  centroidEval <in.parquet> <out.parquet> [-label c] [-vec c]" +
          "\n  burst <in.parquet> <out.parquet> [-key c] [-ts c] [-bucket ms] [-threshold n]" +
          "\n  profileDrift <a.parquet> <b.parquet> <out.parquet> -colsA c1,c2 -colsB c1,c3" +
          "\n  fd <in.parquet> <out.parquet> -det c -dep c [-k n]" +
          "\n  trigrams <in.parquet> <out.parquet> [-key c] [-type c] [-ts c] [-id c] [-k n]" +
          "\n  centroidDrift <in.parquet> <out.parquet> [-group c] [-vec c]" +
          "\n  growth <in.parquet> <out.parquet> [-text c] [-day c]" +
          "\n  linkGraph <in.parquet> <out.parquet> [-src c] [-html c] [-id c] [-top k]" +
          "\n  rendezvous <in.parquet> <out.parquet> -from n -to m [-key c]" +
          "\n  ksDrift <in.parquet> <out.parquet> -side c -value c" +
          "\n  mi <in.parquet> <out.parquet> -a colA -b colB" +
          "\n  kappa <in.parquet> <out.parquet> -a colA -b colB" +
          "\n  benford <in.parquet> <out.parquet> [-group c] -value c" +
          "\n  silhouette <in.parquet> <out.parquet> [-label c] [-vec c]" +
          "\n  cusum <in.parquet> <out.parquet> [-key c] [-ts c] [-bucket ms]" +
          "\n  auc <in.parquet> <out.parquet> -group c -score c -label c" +
          "\n  entropy <in.parquet> <out.parquet> -group c -value c" +
          "\n  flesch <in.parquet> <out.parquet> [-id c] [-text c]" +
          "\n  acf <in.parquet> <out.parquet> [-key c] [-ts c] [-bucket ms] [-lag k]" +
          "\n  ppr <edges.parquet> <seeds.parquet> <out.parquet> [-iters n] [-k n]" +
          "\n  hapax <in.parquet> <out.parquet> [-text c] [-source c]" +
          "\n  rankedEval <in.parquet> <out.parquet> -query c -rank c -rel c [-k n]" +
          "\n  targetEncode <in.parquet> <out.parquet> -cat c -value c [-m n]" +
          "\n  jsonProfile <in.parquet> <out.parquet> -col c" +
          "\n  moments <in.parquet> <out.parquet> -group c -value c" +
          "\n  robustScale <in.parquet> <out.parquet> -group c -value c -tie c" +
          "\n  skipgram <in.parquet> <out.parquet> [-id c] [-text c] [-window n] [-min n]" +
          "\n  joinProbe <a.parquet> <b.parquet> <out.parquet> -keyA c -keyB c" +
          "\n  transitionLatency <in.parquet> <out.parquet> [-key c] [-type c] [-ts c] [-id c]" +
          "\n  piiCensus <in.parquet> <out.parquet> [-text c] [-source c]" +
          "\n  splitAudit <in.parquet> <out.parquet> -split c -ts c -order a,b,c" +
          "\n  numProfile <in.parquet> <out.parquet> -cols a,b,c" +
          "\n  columnDrift <a.parquet> <b.parquet> <out.parquet> -cols a,b [-buckets n]" +
          "\n  vocabCoverage <in.parquet> <out.parquet> [-text c] [-ks 1000,10000]" +
          "\n  tstv <in.parquet> <out.parquet> -group c [-ref c] [-alt c]" +
          "\n  hwe <in.parquet> <out.parquet> -site c -gt c" +
          "\n  concordance <a.parquet> <b.parquet> <out.parquet> -keys k1,k2 -class c" +
          "\n  afSpectrum <in.parquet> <out.parquet> -ac c -an c [-bins n]" +
          "\n  covUniformity <in.parquet> <out.parquet>" +
          "\n  mendel <in.parquet> <out.parquet> -father c -mother c -child c" +
          "\n  fleiss <in.parquet> <out.parquet> -item c -label c" +
          "\n  bootstrapCi <in.parquet> <out.parquet> -group c -value c -id c [-b n]" +
          "\n  seasonal <in.parquet> <out.parquet> [-key c] [-ts c]")
        sys.exit(2)
    }
  }
}
