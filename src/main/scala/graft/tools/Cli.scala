package graft.tools

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.algorithms.{Bqsr, MdTagging, RealignIndels}
import graft.api.Conversions
import graft.core.{GenomicDataset, ReferenceContigs, Tables}
import graft.model._
import graft.operators._
import graft.sources._

/** Command-line surface mirroring the reference's adam-cli
  * (adam-cli/.../ADAMMain.scala:30-62; the transformAlignments stage chain
  * TransformAlignments.scala:438-473). Every stage here is a Dataset
  * transformation, so a full command compiles to ONE Catalyst plan plus
  * the typed algorithm stages (SURVEY.md §3.1 "ours" paragraph).
  *
  * Each command is declared once in [[commands]]: its name, positionals,
  * valued flags with their defaults, switches, a one-line description and
  * its body. [[parse]] resolves a command line against that declaration
  * and rejects whatever it does not declare, and [[usage]] is generated
  * from it. Run `graft.tools.Cli` with no arguments for the usage text.
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

  // ------------------------- command table types --------------------------

  /** One command's declaration. `positionals` is written as its usage:
    * `<x>` is required, `[<x>]` optional, and a trailing `...` repeats the
    * last one. `flags` are valued flags with their defaults, `required`
    * valued flags have no default and must be given, `optional` valued
    * flags may stay absent ([[Args.get]]), and `switches` take no value. */
  final case class Spec(name: String, positionals: String, about: String,
      flags: Seq[(String, String)] = Nil, required: Seq[String] = Nil,
      optional: Seq[String] = Nil, switches: Seq[String] = Nil) {
    private val slots = positionals.split(" ").filter(_.nonEmpty)
    val minPositionals: Int = slots.count(_.startsWith("<"))
    val maxPositionals: Int =
      if (positionals.endsWith("...")) Int.MaxValue else slots.length
    val defaults: Map[String, String] = flags.toMap
    val valued: Set[String] = defaults.keySet ++ required ++ optional

    def usage: String = (Seq(name, positionals) ++
      required.map(f => s"$f <v>") ++
      flags.map { case (f, d) => s"[$f ${if (d.isEmpty) "''" else d}]" } ++
      optional.map(f => s"[$f <v>]") ++ switches.map(s => s"[$s]"))
      .mkString(" ")

    /** A command with a bespoke body. */
    def run(body: (SparkSession, Args) => Unit): Command = Command(this, body)

    /** Parquet in, parquet out: every positional but the last is read as
      * parquet, and the frame `f` returns goes to the last one. */
    def parquet(f: (Args, IndexedSeq[DataFrame]) => DataFrame): Command =
      run((spark, a) => sink(a, f(a, a.pos.init.map(Tables.readParquet(spark, _)))))

    /** [[parquet]] for event tables: the inputs are read through
      * [[readTs]] on the command's `-ts` column. */
    def events(f: (Args, IndexedSeq[DataFrame]) => DataFrame): Command =
      run((spark, a) =>
        sink(a, f(a, a.pos.init.map(readTs(spark, _, a("-ts"))))))
  }

  /** A declared command and its body. */
  final case class Command(spec: Spec, body: (SparkSession, Args) => Unit)

  /** A command line resolved against its command's [[Spec]]. */
  final class Args private[Cli] (val command: Command,
      val pos: IndexedSeq[String], values: Map[String, String],
      on: Set[String]) {
    private def spec = command.spec

    /** The output path: the last positional. */
    def out: String = pos.last

    /** A valued flag's value, else its default; None only for an absent
      * optional flag. */
    def get(flag: String): Option[String] = {
      assert(spec.valued(flag), s"${spec.name} does not declare $flag")
      values.get(flag).orElse(spec.defaults.get(flag))
    }

    def apply(flag: String): String = get(flag).getOrElse(
      throw new NoSuchElementException(s"${spec.name}: $flag is optional"))
    def int(flag: String): Int = apply(flag).toInt
    def long(flag: String): Long = apply(flag).toLong
    def double(flag: String): Double = apply(flag).toDouble

    /** A comma-separated value, trimmed, empty entries dropped. */
    def list(flag: String): Seq[String] =
      apply(flag).split(",").toSeq.map(_.trim).filter(_.nonEmpty)

    def has(switch: String): Boolean = {
      assert(spec.switches.contains(switch),
        s"${spec.name} does not declare $switch")
      on(switch)
    }

    def wrote(path: String): Unit = println(s"${spec.name}: wrote $path")

    def run(spark: SparkSession): Unit = command.body(spark, this)
  }

  // ------------------------------ parser ----------------------------------

  /** Resolve a command line against [[commands]]. Options may appear
    * anywhere; a valued flag takes the next token as its value even when
    * that token starts with `-`. Throws IllegalArgumentException, naming
    * the command and showing its usage line, for an unknown command, a
    * wrong positional count, an undeclared flag, a valued flag without a
    * value or a missing required flag. */
  def parse(line: Seq[String]): Args = {
    val name = line.headOption.getOrElse(
      throw new IllegalArgumentException("no command given"))
    val cmd = byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown command: $name"))
    val spec = cmd.spec
    def fail(problem: String): Nothing = throw new IllegalArgumentException(
      s"$name: $problem\nusage: ${spec.usage}")

    @annotation.tailrec
    def scan(rest: List[String], pos: Vector[String],
        values: Map[String, String], on: Set[String]): Args = rest match {
      case f :: v :: more if spec.valued(f) =>
        scan(more, pos, values + (f -> v), on)
      case f :: Nil if spec.valued(f) => fail(s"flag $f needs a value")
      case s :: more if spec.switches.contains(s) =>
        scan(more, pos, values, on + s)
      case f :: _ if f.length > 1 && f.startsWith("-") =>
        fail(s"undeclared flag $f")
      case p :: more => scan(more, pos :+ p, values, on)
      case Nil =>
        val (lo, hi) = (spec.minPositionals, spec.maxPositionals)
        if (pos.length < lo || pos.length > hi) {
          val want = if (hi == Int.MaxValue) s"at least $lo"
            else if (hi == lo) s"$lo" else s"$lo to $hi"
          fail(s"expects $want positional arguments, got ${pos.length}")
        }
        val missing = spec.required.filterNot(values.contains)
        if (missing.nonEmpty)
          fail(s"missing required flag ${missing.mkString(", ")}")
        new Args(cmd, pos, values, on)
    }
    scan(line.toList.tail, Vector.empty, Map.empty, Set.empty)
  }

  /** The usage text, generated from [[commands]]. */
  lazy val usage: String = (("Usage: graft.tools.Cli <command> " +
    "<positionals> [flags]   (flags may appear anywhere; [-flag v] shows " +
    "a flag's default)") +: commands.map(c =>
      s"  ${c.spec.usage}\n      ${c.spec.about}")).mkString("\n")

  def main(args: Array[String]): Unit = {
    val call = graft.Bench.parseOrExit(usage)(parse(args.toSeq))
    val spark = graft.core.SessionTuning.local()
    try call.run(spark) finally spark.stop()
  }

  /** Parse `args` and run the command on `spark` (tests drive this
    * directly). A bad command line throws [[parse]]'s
    * IllegalArgumentException before any work starts. */
  def run(spark: SparkSession, args: Seq[String]): Unit =
    parse(args).run(spark)

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

  /** Parquet read + timestamp normalization for the event-shaped
    * commands: the driver testdata carries TIMESTAMP(NANOS) /
    * TIMESTAMP(MICROS, NTZ) columns that read as LongType / NTZ in
    * Spark 4 (see [[graft.core.Tables.normalizeTs]]); operators built on
    * unix_millis/windows need plain TimestampType. */
  private def readTs(spark: SparkSession, path: String,
      tsCol: String): DataFrame =
    Tables.normalizeTs(Tables.readParquet(spark, path), tsCol)

  private def loadReference(spark: SparkSession, path: String): ReferenceContigs =
    if (path.toLowerCase.endsWith(".2bit")) TwoBit.readFile(path)
    else ReferenceContigs.fromFasta(spark, path)

  private def save(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** The parquet sink: overwrite the command's output, then log it. */
  private def sink(a: Args, df: DataFrame): Unit = {
    save(df, a.out)
    a.wrote(a.out)
  }

  /** `-fractions train=0.9,val=0.05,test=0.05` as (name, fraction) pairs. */
  private def fractions(a: Args): Seq[(String, Double)] =
    a.list("-fractions").map { kv =>
      val Array(n, f) = kv.split("=", 2)
      n -> f.toDouble
    }

  // ------------------------------ commands --------------------------------

  /** transformAlignments with the reference CLI's flag surface
    * (adam-cli TransformAlignments.scala). Pipeline order mirrors the
    * reference: load (+paired fastq/read group/concat/region predicate) ->
    * mark duplicates -> recalibrate (known SNPs) -> realign -> MD tags ->
    * quality binning -> sort -> repartition/coalesce -> save. */
  private def transformAlignments(spark: SparkSession, a: Args): Unit = {
    val (in, out) = (a.pos(0), a.out)
    def any(switches: String*): Boolean = switches.exists(a.has)

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
        val ds = a.get("-paired_fastq") match {
          case Some(p2) => loadFq(in, 0, paired = true)
            .unionByName(loadFq(p2, 1, paired = true))
          case None => loadFq(in, 0, paired = false)
        }
        GenomicDataset(ds, GenomicMetadata.empty)
      } else loadAlignments(spark, in)
    a.get("-read_group").foreach { rg =>
      // empty string -> basename of the input minus extension (reference)
      val rgId = if (rg.isEmpty)
        new java.io.File(in).getName.replaceAll("\\.[^.]*$", "") else rg
      gd = gd.transform(_.map(r => r.copy(readGroupId = Some(rgId))))
    }
    a.get("-concat").foreach { p =>
      gd = gd.union(loadAlignments(spark, p))
    }
    a.get("-region_predicate").foreach { spec =>
      val regions = spec.split(",").toSeq.map { s =>
        val Array(name, range) = s.split(":")
        val Array(lo, hi) = range.split("-")
        graft.model.ReferenceRegion(name, lo.toLong, hi.toLong)
      }
      gd = gd.filterByOverlappingRegions(regions)
    }

    // ------------------------------ transforms ------------------------------
    if (any("-mark_duplicates", "-mark_duplicate_reads"))
      gd = gd.transform(ds =>
        AlignmentOps.markDuplicates(ds, gd.meta.readGroups))
    if (any("-recalibrate", "-recalibrate_base_qualities")) {
      val mask = a.get("-known_snps") match {
        case Some(vcf) =>
          Bqsr.SnpMask.fromVariants(VcfIO.readVariants(spark, vcf).toDF)
        case None => Bqsr.SnpMask.empty
      }
      gd = gd.transform(ds => Bqsr(ds, mask))
    }
    a.get("-realign").orElse(
        if (a.has("-realign_indels")) a.get("-reference") else None)
      .foreach { ref =>
        val contigs = loadReference(spark, ref)
        val lod = a.double("-log_odds_threshold")
        gd = gd.transform(ds => RealignIndels(ds, contigs,
          lodThreshold = lod))
      }
    a.get("-md_tag").orElse(a.get("-add_md_tags")).foreach { ref =>
      val contigs = loadReference(spark, ref)
      gd = gd.transform(ds => MdTagging.tagReads(ds, contigs,
        overwrite = !a.has("-md_tag_keep_existing")))
    }
    // -bin_quality_scores "0,20,10;20,40,30" (reference syntax); bare
    // -bin_qualities keeps the historical default bins
    val bins = a.get("-bin_quality_scores").map(_.split(";").toSeq.map { b =>
      val Array(lo, hi, v) = b.split(",").map(_.trim.toInt); (lo, hi, v)
    }).orElse(if (a.has("-bin_qualities"))
      Some(Seq((0, 20, 10), (20, 30, 25), (30, 60, 37))) else None)
    bins.foreach(b => gd = gd.transform(ds => AlignmentOps.binQualities(ds, b)))

    // ----------------------------- sort / layout ----------------------------
    require(Seq("-sort", "-sort_by_reference_position",
      "-sort_by_reference_position_and_index", "-sort_by_read_name")
      .count(a.has) <= 1, "conflicting sort flags")
    if (any("-sort", "-sort_by_reference_position"))
      gd = gd.sortLexicographically()
    else if (a.has("-sort_by_reference_position_and_index"))
      gd = gd.sortByDictionaryOrder()
    else if (a.has("-sort_by_read_name"))
      gd = gd.transform(_.orderBy(col("readName"), col("readInFragment")))
    a.get("-repartition").foreach(n =>
      gd = gd.transform(_.repartition(n.toInt)))
    a.get("-coalesce").foreach { n =>
      val k = n.toInt
      val shuffle = k > gd.ds.rdd.getNumPartitions ||
        a.has("-force_shuffle_coalesce")
      gd = gd.transform(ds => if (shuffle) ds.repartition(k) else ds.coalesce(k))
    }

    // --------------------------------- save ---------------------------------
    val isParquetOut = !Seq(".sam", ".bam", ".cram")
      .exists(out.toLowerCase.endsWith)
    if (isParquetOut && a.has("-partition_by_start_pos"))
      gd.saveAsPartitionedParquet(out, a.long("-partition_bin_size"))
    else saveAlignments(gd, out, single = a.has("-single"))
    a.wrote(out)
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
  private def vcfCommand(name: String, genotypes: Boolean): Command =
    Spec(name, "<in> <out>", s"${if (genotypes) "genotypes" else "variants"} " +
        "between VCF and parquet, with the reference's sort/layout flags",
      Seq("-coalesce" -> "-1", "-stringency" -> "STRICT",
        "-partition_bin_size" -> "1000000"),
      switches = Seq("-force_shuffle_coalesce", "-sort_on_save",
        "-sort_lexicographically_on_save", "-single",
        "-partition_by_start_pos") ++
        (if (genotypes) Seq("-nested_annotations") else Nil))
      .run(transformVcfSide(_, _, genotypes))

  private def transformVcfSide(spark: SparkSession, a: Args,
      genotypes: Boolean): Unit = {
    val (in, out) = (a.pos(0), a.out)
    require(!(a.has("-sort_on_save") && a.has("-sort_lexicographically_on_save")),
      "Cannot set both -sort_on_save and -sort_lexicographically_on_save.")
    val stringency = a("-stringency")
    def isVcfExt(p: String): Boolean = {
      val l = p.toLowerCase
      l.endsWith(".vcf") || l.endsWith(".vcf.gz") || l.endsWith(".vcf.bgz") ||
        l.endsWith(".vcf.bgzf")
    }

    def postProcess[T](gd0: GenomicDataset[T]): GenomicDataset[T] = {
      var gd = gd0
      val n = a.int("-coalesce")
      if (n != -1) {
        // reference semantics: plain coalesce unless growing the partition
        // count (coalesce can only shrink) or the caller forces a shuffle
        val shuffle = n > gd.ds.rdd.getNumPartitions ||
          a.has("-force_shuffle_coalesce")
        gd = gd.transform(ds => if (shuffle) ds.repartition(n) else ds.coalesce(n))
      }
      if (a.has("-sort_on_save")) gd.sortByDictionaryOrder()
      else if (a.has("-sort_lexicographically_on_save"))
        gd.sortLexicographically()
      else gd
    }

    if (!genotypes) {
      val gd = postProcess(
        if (isVcfExt(in)) VcfIO.readVariants(spark, in, stringency)
        else GenomicDataset.loadParquet[Variant](spark, in))
      if (isVcfExt(out))
        VcfIO.write(Conversions.variantsToVariantContexts(gd.ds), gd.meta,
          Seq.empty, out, asSingleFile = a.has("-single"))
      else if (a.has("-partition_by_start_pos"))
        gd.saveAsPartitionedParquet(out, a.long("-partition_bin_size"))
      else gd.saveAsParquet(out)
    } else {
      var gd = postProcess(
        if (isVcfExt(in)) VcfIO.readGenotypes(spark, in, stringency)
        else GenomicDataset.loadParquet[Genotype](spark, in))
      // reference default: the nested variant's annotation map is NOT
      // populated on genotype records; -nested_annotations keeps it
      if (!a.has("-nested_annotations"))
        gd = gd.transform(_.map(g =>
          g.copy(variant = g.variant.map(_.copy(
            annotation = Map.empty[String, String])))))
      if (isVcfExt(out)) {
        val sampleNames = gd.meta.samples.map(_.id) match {
          case s if s.nonEmpty => s
          case _ => // derive from the data: distinct sampleIds, sorted
            gd.toDF.select("sampleId").distinct()
              .collect().map(_.getString(0)).sorted.toSeq
        }
        VcfIO.write(Conversions.genotypesToVariantContexts(gd.ds), gd.meta,
          sampleNames, out, asSingleFile = a.has("-single"))
      } else if (a.has("-partition_by_start_pos"))
        gd.saveAsPartitionedParquet(out, a.long("-partition_bin_size"))
      else gd.saveAsParquet(out)
    }
    a.wrote(out)
  }

  // ------------------------- PRINT group ----------------------------------

  /** Per-bit predicate Columns for each SAM flag bit set in `n`, in the
    * `matchValue = true` sense (reference View.getFilters,
    * adam-cli/.../View.scala:121-156): each holds exactly when the flag
    * [[SamIO.flagOf]] writes has that bit. */
  private def bitPredicates(n: Int): Seq[org.apache.spark.sql.Column] =
    SamIO.FlagTable.filter(e => (n & e.bit) != 0).map(SamIO.isSet)

  /** `view` — the reference's samtools-style record viewer
    * (adam-cli/.../View.scala): -f N (ALL bits match), -F N (NO bit
    * matches), -g N (ANY bit matches), -G N (ANY bit mismatches), -c
    * (count only), -o FILE / second positional (save SAM/BAM/CRAM/parquet
    * by extension), -single; plus samtools' -q MINQ (mapq >= MINQ).
    * With no output path it prints SAM to stdout. All filters are Column
    * predicates — one codegen'd scan, no driver-side row filtering. */
  private def view(spark: SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions.coalesce
    def bits(flag: String): Int = {
      val v = a(flag)
      if (v.startsWith("0x")) Integer.parseInt(v.drop(2), 16) else v.toInt
    }
    val out = a.get("-o").orElse(a.pos.lift(1))

    val gd = loadAlignments(spark, a.pos(0))
    val allPreds = bitPredicates(bits("-f")) ++
      bitPredicates(bits("-F")).map(p => !p)
    val somePreds = bitPredicates(bits("-g"))
    val someMismatch = bitPredicates(bits("-G")).map(p => !p)
    val minQ = bits("-q")
    val pred = (allPreds ++ Seq(
      if (somePreds.nonEmpty) Some(somePreds.reduce(_ || _)) else None,
      if (someMismatch.nonEmpty) Some(someMismatch.reduce(_ || _)) else None,
      if (minQ > 0) Some(coalesce(col("mappingQuality"), lit(0)) >= minQ)
      else None).flatten).foldLeft(lit(true))(_ && _)
    val filtered = gd.transform(_.filter(pred))

    out match {
      case Some(o) => saveAlignments(filtered, o, single = a.has("-single"))
      case None if a.has("-c") => println(filtered.ds.count())
      case None =>
        // stdout prints SAM, like the reference; stream, don't collect
        SamIO.headerLines(filtered.meta).foreach(println)
        filtered.ds.toLocalIterator().forEachRemaining(r =>
          println(SamIO.toSamLine(r)))
    }
  }

  /** `print` — the reference's PrintADAM: dump parquet files as JSON
    * records to stdout or `-o FILE` (local); `-pretty` re-indents. */
  private def printParquet(spark: SparkSession, a: Args): Unit = {
    val outFile = a.get("-o")
    val ps = outFile.map(f => new java.io.PrintStream(f)).getOrElse(Console.out)
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      a.pos.foreach { f =>
        Tables.readParquet(spark, f).toJSON.toLocalIterator().forEachRemaining { line =>
          if (a.has("-pretty"))
            ps.println(mapper.writerWithDefaultPrettyPrinter()
              .writeValueAsString(mapper.readTree(line)))
          else ps.println(line)
        }
      }
    } finally if (outFile.isDefined) ps.close()
  }

  // ---------------------------- command table -----------------------------

  private val InOut = "<in.parquet> <out.parquet>"

  /** Every command, in usage order. */
  lazy val commands: Seq[Command] = genomics ++ corpus ++ analytics

  private lazy val byName: Map[String, Command] =
    commands.map(c => c.spec.name -> c).toMap

  // adam-cli commands: reads, features, variants and sequences
  private def genomics: Seq[Command] = Seq(
    Spec("transformAlignments", "<in> <out>", "load (.sam/.bam/.cram/.fq/" +
        "parquet) -> mark duplicates -> BQSR -> realign -> MD tags -> bin " +
        "qualities -> sort -> save, format by extension",
      Seq("-log_odds_threshold" -> "5.0", "-partition_bin_size" -> "1000000"),
      optional = Seq("-paired_fastq", "-read_group", "-concat",
        "-region_predicate", "-known_snps", "-realign", "-reference",
        "-md_tag", "-add_md_tags", "-bin_quality_scores", "-repartition",
        "-coalesce"),
      switches = Seq("-mark_duplicates", "-mark_duplicate_reads",
        "-recalibrate", "-recalibrate_base_qualities", "-realign_indels",
        "-md_tag_keep_existing", "-bin_qualities", "-sort",
        "-sort_by_reference_position",
        "-sort_by_reference_position_and_index", "-sort_by_read_name",
        "-force_shuffle_coalesce", "-partition_by_start_pos", "-single"))
      .run(transformAlignments),

    Spec("transformFeatures", "<in> <out>", "features between BED, GFF3, " +
        "GTF, narrowPeak, interval_list and parquet, format by extension")
      .run { (spark, a) =>
        val (feats, out) = (FeatureIO.readFeatures(spark, a.pos(0)), a.out)
        val p = out.toLowerCase
        if (p.endsWith(".bed")) FeatureIO.writeBed(feats, out)
        else if (p.endsWith(".gff3")) FeatureIO.writeGff3(feats, out)
        else if (p.endsWith(".gtf")) FeatureIO.writeGtf(feats, out)
        else if (p.endsWith(".narrowpeak")) FeatureIO.writeNarrowPeak(feats, out)
        else if (p.endsWith(".interval_list")) FeatureIO.writeIntervalList(feats, out)
        else GenomicDataset(feats, GenomicMetadata.empty).saveAsParquet(out)
        a.wrote(out)
      },

    Spec("flagstat", "<in>", "samtools-style flag statistics of alignments")
      .run { (spark, a) =>
        AlignmentOps.flagStat(loadAlignments(spark, a.pos(0)).ds)
          .show(truncate = false)
      },

    Spec("countKmers", "<in> <k> <out.parquet>", "k-mer counts over reads")
      .run { (spark, a) =>
        sink(a, AlignmentOps.countKmers(loadAlignments(spark, a.pos(0)).ds,
          a.pos(1).toInt))
      },

    Spec("coverage", "<in> <out.parquet>",
        "per-base read depth; -collapse merges equal-depth runs",
        switches = Seq("-collapse"))
      .run { (spark, a) =>
        val cov = AlignmentOps.toCoverage(loadAlignments(spark, a.pos(0)).ds)
        sink(a, if (a.has("-collapse")) CoverageOps.collapse(cov) else cov)
      },

    vcfCommand("transformVariants", genotypes = false),
    vcfCommand("transformGenotypes", genotypes = true),

    Spec("vcf2parquet", "<in.vcf> <out>",
        "VCF variant contexts to parquet")
      .run { (spark, a) =>
        val b = VcfIO.read(spark, a.pos(0))
        GenomicDataset(b.contexts, b.meta)(Encoders.product[VariantContext])
          .saveAsParquet(a.out)
        a.wrote(a.out)
      },

    Spec("mergeShards", "<inDir> <outFile>",
        "concatenate a directory's part files into one file")
      .run { (spark, a) =>
        FileMerger.mergeToSingleFile(spark, a.pos(0), a.out,
          deleteParts = false)
        a.wrote(a.out)
      },

    Spec("countSliceKmers", "<in.fa|in.parquet> <k> <out.parquet>",
        "k-mer counts over FASTA or sequence parquet")
      .run { (spark, a) =>
        import org.apache.spark.sql.functions.{count, explode, length}
        val (in, k) = (a.pos(0), a.pos(1).toInt)
        val seqs =
          if (in.toLowerCase.endsWith(".parquet")) Tables.readParquet(spark, in)
          else SequenceIO.readFasta(spark, in).toDF()
        sink(a, seqs.filter(col("sequence").isNotNull)
          .select(explode(
            graft.functions.GenomicFunctions.kmers("sequence", k)).as("kmer"))
          .filter(length(col("kmer")) === k)
          .groupBy("kmer").agg(count(lit(1)).as("count")))
      },

    Spec("transformSequences", "<in> <out>",
        "sequences between FASTA and parquet, format by extension")
      .run { (spark, a) =>
        implicit val seqE: org.apache.spark.sql.Encoder[Sequence] =
          Encoders.product[Sequence]
        val (in, out) = (a.pos(0), a.out.toLowerCase)
        val seqs =
          if (in.toLowerCase.endsWith(".parquet"))
            Tables.readParquet(spark, in).as[Sequence]
          else SequenceIO.readFasta(spark, in)
        if (out.endsWith(".fasta") || out.endsWith(".fa"))
          SequenceIO.writeFasta(seqs, a.out)
        else GenomicDataset(seqs, GenomicMetadata.empty).saveAsParquet(a.out)
        a.wrote(a.out)
      },

    Spec("transformSlices", "<in> <out>",
        "FASTA (or slice parquet) to slice parquet")
      .run { (spark, a) =>
        implicit val slE: org.apache.spark.sql.Encoder[Slice] =
          Encoders.product[Slice]
        val in = a.pos(0)
        val slices =
          if (in.toLowerCase.endsWith(".parquet"))
            Tables.readParquet(spark, in).as[Slice]
          else SequenceIO.readFastaSlices(spark, in)
        GenomicDataset(slices, GenomicMetadata.empty).saveAsParquet(a.out)
        a.wrote(a.out)
      },

    Spec("transformFragments", "<in> <out>",
        "alignments to read-pair fragments, optionally duplicate-marked",
        switches = Seq("-mark_duplicates"))
      .run { (spark, a) =>
        implicit val frE: org.apache.spark.sql.Encoder[Fragment] =
          Encoders.product[Fragment]
        val gd = loadAlignments(spark, a.pos(0))
        var frags = AlignmentOps.toFragments(gd.ds)
        if (a.has("-mark_duplicates"))
          frags = AlignmentOps.markDuplicateFragments(frags, gd.meta.readGroups)
        GenomicDataset(frags, gd.meta).saveAsParquet(a.out)
        a.wrote(a.out)
      },

    Spec("adam2fastq", "<in> <out1> [<out2>]",
        "alignments to FASTQ; a second output splits the pairs")
      .run { (spark, a) =>
        val (gd, out1) = (loadAlignments(spark, a.pos(0)), a.pos(1))
        a.pos.lift(2) match {
          case Some(out2) =>
            SequenceIO.writePairedFastq(gd.ds, out1, out2, strict = false)
            a.wrote(s"$out1 + $out2")
          case None =>
            SequenceIO.writeFastq(Conversions.alignmentsToReads(gd.ds), out1)
            a.wrote(out1)
        }
      },

    Spec("view", "<in> [<out>]", "samtools-style viewer: filter by flag " +
        "bits and mapq, then count, print SAM to stdout or save",
      Seq("-f" -> "0", "-F" -> "0", "-g" -> "0", "-G" -> "0", "-q" -> "0"),
      optional = Seq("-o"), switches = Seq("-c", "-single"))
      .run(view),

    Spec("print", "<file.parquet>...",
        "dump parquet records as JSON to stdout or -o (local file)",
      optional = Seq("-o"), switches = Seq("-pretty"))
      .run(printParquet),

    Spec("svLink", "<in.vcf|in.parquet> <out.parquet>", "link breakend " +
        "mates by MATEID or reciprocal coordinates; -events writes EVENT " +
        "groups to <out>.events", switches = Seq("-events"))
      .run { (spark, a) =>
        val in = a.pos(0)
        val vars =
          if (in.endsWith(".parquet")) Tables.readParquet(spark, in)
          else VcfIO.readVariants(spark, in).toDF
            .select(col("referenceName"), col("start"), col("names"),
              col("alternateAllele"), col("annotation"))
        save(StructuralVariants.linkBreakends(vars), a.out)
        if (a.has("-events"))
          save(StructuralVariants.eventGroups(vars), a.out + ".events")
        a.wrote(a.out)
      }
  )

  // training-data commands over document, event and embedding tables
  private def corpus: Seq[Command] = Seq(
    Spec("dedup", InOut, "drop duplicate docs, keeping each duplicate " +
        "cluster's minimum id (method exact|minhash|winnowing|edit)",
      Seq("-id" -> "doc_id", "-text" -> "text", "-method" -> "exact"))
      .parquet { (a, in) =>
        val (docs, id, text) = (in(0), a("-id"), a("-text"))
        a("-method") match {
          case "exact" => DedupOps.dropExactDuplicates(docs, id, text)
          case m =>
            val pairs = m match {
              case "minhash" => DedupOps.minhashNearDuplicates(docs, id, text)
              case "winnowing" => TextOps.winnowingNearDuplicates(docs, id,
                text, minShared = 5, maxDocFreq = 50)
              case "edit" => DedupOps.editDistanceNearDuplicates(docs, id,
                text, maxDist = 2)
              case other => sys.error(s"unknown dedup method: $other")
            }
            val victims = DedupOps.clusterDuplicates(pairs.select("id_a", "id_b"))
              .filter(col("id") =!= col("label")).select(col("id").as("__v"))
            docs.join(victims, docs(id) === col("__v"), "left_anti")
        }
      },
    Spec("score", InOut, "append quality columns: gopher rules and keep, " +
        "language id, token count", Seq("-text" -> "text"))
      .parquet { (a, in) =>
        val text = col(a("-text"))
        TextOps.gopherQualityRules(text).foldLeft(in(0)) {
          case (d, (name, c)) => d.withColumn(name, c)
        }
          .withColumn("gopher_keep", TextOps.gopherKeep(text))
          .withColumn("pred_lang", TextOps.langId(text))
          .withColumn("n_tokens", TextOps.tokenCount(text))
      },
    Spec("extractText", InOut, "rewrite an HTML column to extracted text",
        Seq("-html" -> "html", "-out" -> "text"))
      .parquet((a, in) => in(0).withColumn(a("-out"),
        WebOps.htmlToText(col(a("-html"))))),
    Spec("urlDedup", InOut, "one row per canonical URL (smallest id wins) " +
        "with the duplicate count", Seq("-url" -> "url", "-id" -> "doc_id"))
      .parquet((a, in) => WebOps.urlDedup(in(0), a("-url"), a("-id"))),
    Spec("split", InOut, "deterministic hash split into named fractions " +
        "(adds `split`)", Seq("-key" -> "doc_id",
        "-fractions" -> "train=0.9,val=0.05,test=0.05", "-salt" -> "graft"))
      .parquet((a, in) => SamplingOps.hashSplit(in(0), a("-key"),
        fractions(a), salt = a("-salt"))),
    Spec("dedupSplit", InOut, "leak-safe split: MinHash near-duplicate " +
        "clusters never cross a split boundary", Seq("-id" -> "doc_id",
        "-text" -> "text", "-fractions" -> "train=0.9,val=0.05,test=0.05",
        "-salt" -> "graft"))
      .parquet { (a, in) =>
        val pairs = DedupOps.minhashNearDuplicates(in(0), a("-id"),
          a("-text"), numHashes = 64, shingleN = 3, bands = 16,
          threshold = 0.5).select("id_a", "id_b")
        SamplingOps.leakSafeSplit(in(0), a("-id"), pairs, fractions(a),
          salt = a("-salt"))
      },
    Spec("snapshotDelta", "<old.parquet> <new.parquet> <out.parquet>",
        "incremental corpus diff; -report rolls it up per -carry column",
      Seq("-id" -> "doc_id", "-text" -> "text", "-carry" -> ""),
      switches = Seq("-report"))
      .parquet { (a, in) =>
        val carry = a.list("-carry")
        val delta = SnapshotOps.snapshotDelta(in(0), in(1), a("-id"),
          a("-text"), carry)
        if (a.has("-report")) {
          require(carry.nonEmpty, "-report needs -carry group cols")
          SnapshotOps.snapshotDeltaReport(delta, carry)
        } else delta
      },
    Spec("budgetSelect", InOut, "best-scored prefix under a global token " +
        "budget", Seq("-budget" -> "1000000", "-id" -> "doc_id",
        "-score" -> "score", "-tokens" -> "tokens"))
      .parquet((a, in) => SamplingOps.budgetSelect(in(0), a("-id"),
        a("-score"), a("-tokens"), a.long("-budget"))),
    Spec("calibrate", InOut, "per-stratum percentile calibration and " +
        "top-fraction selection", Seq("-strata" -> "source",
        "-id" -> "doc_id", "-score" -> "score", "-keep" -> "0.3"))
      .parquet((a, in) => SamplingOps.calibratedSelect(in(0), a("-strata"),
        a("-id"), a("-score"), a.double("-keep"))),
    Spec("nextEvents", InOut, "bounded-history next-event training " +
        "examples", Seq("-key" -> "user_id", "-type" -> "event_type",
        "-ts" -> "ts", "-tie" -> "event_id", "-history" -> "3"))
      .events((a, in) => Sessionize.nextEventExamples(in(0), a("-key"),
        a("-type"), a("-ts"), a("-tie"), a.int("-history"))),
    Spec("sourceNovelty", InOut, "per-source novelty attribution after " +
        "exact dedup", Seq("-text" -> "text", "-source" -> "source"))
      .parquet((a, in) => CorpusCompareOps.sourceNovelty(in(0), a("-text"),
        a("-source"))),
    Spec("sourceSim", InOut, "pairwise source cosine over hashed unigram " +
        "vectors", Seq("-text" -> "text", "-source" -> "source",
        "-buckets" -> "4096"))
      .parquet((a, in) => CorpusCompareOps.sourceSimilarity(in(0),
        a("-text"), a("-source"), a.int("-buckets"))),
    Spec("chi2", InOut, "label-discriminative token buckets by exact " +
        "chi-square", Seq("-label" -> "source", "-text" -> "text",
        "-buckets" -> "4096", "-top" -> "50"))
      .parquet((a, in) => CorpusCompareOps.chiSquareFeatures(in(0),
        a("-label"), a("-text"), a.int("-buckets"), a.int("-top"))),
    Spec("actives", InOut, "daily actives and rolling exact distinct " +
        "actives", Seq("-key" -> "user_id", "-ts" -> "ts", "-window" -> "7"))
      .events((a, in) => Sessionize.rollingDistinctActives(in(0),
        a("-key"), a("-ts"), a.int("-window"))),
    Spec("anomalies", InOut, "trailing-window volume z-test",
      Seq("-group" -> "event_type", "-day" -> "day", "-n" -> "n",
        "-lookback" -> "7", "-minHistory" -> "4", "-k" -> "3000"))
      .parquet((a, in) => Stats.volumeAnomalies(in(0), a("-group"),
        a("-day"), a("-n"), a.int("-lookback"), a.long("-minHistory"),
        a.long("-k"))),
    Spec("retention", InOut, "cohort retention triangle",
      Seq("-key" -> "user_id", "-ts" -> "ts"))
      .events((a, in) => Sessionize.retentionCohorts(in(0), a("-key"),
        a("-ts"))),
    Spec("calfill", InOut, "calendar gap fill and forward fill on a keyed " +
        "daily series", Seq("-group" -> "event_type", "-day" -> "day",
        "-value" -> "n"))
      .parquet((a, in) => TimeSeriesOps.calendarFill(in(0), a("-group"),
        a("-day"), a("-value"))),
    Spec("abtest", InOut, "pooled two-proportion z-test per experiment " +
        "group", Seq("-group" -> "grp", "-variant" -> "variant_b",
        "-outcome" -> "converted"))
      .parquet((a, in) => Stats.abTestReport(in(0), a("-group"),
        a("-variant"), a("-outcome"))),
    Spec("profile", InOut, "single-pass table profile (default: every " +
        "column)", Seq("-cols" -> ""))
      .parquet { (a, in) =>
        val cols = a.list("-cols")
        ProfileOps.profileColumns(in(0),
          if (cols.nonEmpty) cols else in(0).columns.toSeq)
      },
    Spec("fkAudit", "<child.parquet> <parent.parquet> <out.parquet>",
        "referential-integrity orphan audit",
      Seq("-childKey" -> "id", "-parentKey" -> "id"))
      .parquet((a, in) => ProfileOps.fkAudit(in(0), in(1), a("-childKey"),
        a("-parentKey"))),
    Spec("pkAudit", InOut, "primary-key uniqueness audit",
        required = Seq("-cols"))
      .parquet((a, in) => ProfileOps.pkAudit(in(0), a.list("-cols"))),
    Spec("calibration", InOut, "score-quantile calibration curve",
      Seq("-score" -> "score", "-outcome" -> "pos", "-tie" -> "id",
        "-n" -> "10"))
      .parquet((a, in) => Quantiles.calibrationCurve(in(0), a("-score"),
        a("-outcome"), a("-tie"), a.int("-n"))),
    Spec("kanon", InOut, "k-anonymity release audit", Seq("-k" -> "10"),
        required = Seq("-cols"))
      .parquet((a, in) => PrivacyOps.kAnonymityReport(in(0),
        a.list("-cols"), a.long("-k"))),
    Spec("trend", InOut, "per-group exact least-squares slope and " +
        "intercept", Seq("-group" -> "event_type", "-x" -> "day", "-y" -> "n"))
      .parquet((a, in) => Stats.trendByGroup(in(0), a("-group"), a("-x"),
        a("-y"))),
    Spec("wilson", InOut, "Wilson lower-bound pass-rate ranking",
      Seq("-group" -> "source", "-pass" -> "pass", "-z" -> "1.96"))
      .parquet((a, in) => Stats.wilsonRanking(in(0), a("-group"),
        a("-pass"), a.double("-z"))),
    Spec("rrf", "<a.parquet> <b.parquet> <out.parquet>",
        "reciprocal-rank fusion of two rankings", Seq("-id" -> "doc_id",
        "-rank" -> "rank", "-k" -> "60", "-top" -> "100"))
      .parquet((a, in) => RankFusionOps.rrfFuse(in(0), in(1), a("-id"),
        a("-rank"), a.int("-k"), a.int("-top"))),
    Spec("gini", InOut, "per-group Gini concentration",
      Seq("-group" -> "source", "-value" -> "tokens", "-tie" -> "doc_id"))
      .parquet((a, in) => Stats.giniByGroup(in(0), a("-group"),
        a("-value"), a("-tie"))),
    Spec("ntile", InOut, "exact global equal-depth binning (ANSI NTILE)",
      Seq("-by" -> "tokens", "-tie" -> "doc_id", "-n" -> "10"))
      .parquet((a, in) => Quantiles.globalNtile(in(0), a("-by"), a("-tie"),
        a.int("-n"))),
    Spec("skewReport", "<in.parquet>", "print the top-k heaviest keys with " +
        "share and totals; -out also writes them",
      Seq("-key" -> "user_id", "-top" -> "20"), optional = Seq("-out"))
      .run { (spark, a) =>
        val rep = SkewOps.keySkewReport(Tables.readParquet(spark, a.pos(0)),
          a("-key"), a.int("-top"))
        a.get("-out").foreach(save(rep, _))
        rep.show(100, truncate = false)
      },
    Spec("boilerplate", InOut, "remove same-group template paragraphs",
      Seq("-id" -> "doc_id", "-text" -> "text", "-group" -> "source",
        "-minDocs" -> "3"))
      .parquet((a, in) => DedupOps.removeBoilerplate(in(0), a("-id"),
        a("-text"), a("-group"), a.int("-minDocs"))),
    Spec("phrase", InOut, "positional exact phrase search: (id, " +
        "n_occurrences)", Seq("-id" -> "doc_id", "-text" -> "text"),
        required = Seq("-words"))
      .parquet((a, in) => TextOps.phraseSearch(in(0), a("-id"), a("-text"),
        a("-words").split("\\s+").toSeq.filter(_.nonEmpty))),
    Spec("mix", InOut, "temperature-scaled stratum mixture",
      Seq("-strata" -> "lang", "-key" -> "doc_id", "-alpha" -> "0.5",
        "-target" -> "1000000", "-salt" -> "graft"))
      .parquet((a, in) => SamplingOps.temperatureMix(in(0), a("-strata"),
        a("-key"), a.double("-alpha"), a.long("-target"),
        salt = a("-salt"))),
    Spec("decontaminate", "<corpus.parquet> <bench.parquet> <out.parquet>",
        "per-doc benchmark n-gram overlap report", Seq("-id" -> "doc_id",
        "-text" -> "text", "-benchText" -> "text", "-n" -> "8",
        "-maxFrac" -> "0.2"))
      .parquet((a, in) => TextOps.contaminationReport(in(0), in(1),
        a("-id"), a("-text"), a("-benchText"), a.int("-n"),
        a.double("-maxFrac"))),
    Spec("lineDedup", InOut, "cross-document boilerplate line removal",
      Seq("-id" -> "doc_id", "-text" -> "text", "-minDocs" -> "2"))
      .parquet((a, in) => TextOps.globalLineDedup(in(0), a("-id"),
        a("-text"), a.int("-minDocs"))),
    Spec("chunk", InOut, "sliding-window character chunking",
      Seq("-id" -> "doc_id", "-text" -> "text", "-size" -> "2048",
        "-stride" -> "1536"))
      .parquet((a, in) => TextOps.chunkDocuments(in(0), a("-id"),
        a("-text"), a.int("-size"), a.int("-stride"))),
    Spec("collocations", InOut, "top-k adjacent-bigram collocations by PMI",
      Seq("-text" -> "text", "-minCount" -> "5", "-k" -> "100"))
      .parquet((a, in) => TextOps.collocationsPmi(in(0), a("-text"),
        a.long("-minCount"), a.int("-k"))),
    Spec("transitions", InOut, "per-key Markov transition counts",
      Seq("-key" -> "user_id", "-type" -> "event_type", "-ts" -> "ts",
        "-tie" -> "event_id"))
      .events((a, in) => Sessionize.eventTransitions(in(0), a("-key"),
        a("-type"), a("-ts"), a("-tie"))),
    Spec("percentiles", InOut, "exact grouped discrete percentiles",
      Seq("-group" -> "event_type", "-value" -> "value",
        "-tie" -> "event_id", "-ps" -> "0.5,0.9,0.99"))
      .parquet((a, in) => Quantiles.discPercentiles(in(0), a("-group"),
        a("-value"), a("-tie"), a.list("-ps").map(_.toDouble))),
    Spec("zorder", InOut, "Morton-curve clustered rewrite for " +
        "multi-column row-group pruning",
      Seq("-cols" -> "", "-files" -> "64", "-bits" -> "16"))
      .run { (spark, a) =>
        ZOrder.writeZOrdered(Tables.readParquet(spark, a.pos(0)), a.out,
          a.list("-cols"), a.int("-files"), a.int("-bits"))
        a.wrote(a.out)
      },
    Spec("heavyHitters", InOut, "exact top tokens with count-min " +
        "estimates", Seq("-text" -> "text", "-depth" -> "4",
        "-width" -> "1024", "-top" -> "20"))
      .parquet((a, in) => SketchOps.cmsHeavyHitters(in(0), a("-text"),
        a.int("-depth"), a.int("-width"), a.int("-top"))),
    Spec("hll", InOut, "HyperLogLog distinct-count summary",
      Seq("-text" -> "text", "-p" -> "10"))
      .parquet((a, in) => SketchOps.hllSummary(in(0), a("-text"),
        a.int("-p"))),
    Spec("sourceOverlap", InOut, "pairwise corpus overlap via bottom-k " +
        "sketches", Seq("-group" -> "source", "-text" -> "text",
        "-n" -> "3", "-k" -> "256"))
      .parquet((a, in) => SketchOps.sketchOverlap(SketchOps.bottomKSketch(
        in(0), a("-group"), a("-text"), a.int("-n"), a.int("-k")),
        a.int("-k"))),
    Spec("imageDedup", "<media.parquet> <out.parquet>", "perceptual " +
        "near-duplicate pairs over (media_id, payload) BMP rows",
      Seq("-maxDist" -> "3", "-bands" -> "4"))
      .parquet((a, in) => MultimodalOps.imageNearDuplicates(in(0),
        a.int("-maxDist"), a.int("-bands"))),
    Spec("audioDedup", "<media.parquet> <out.parquet>", "near-duplicate " +
        "pairs over (media_id, payload) WAV rows",
      Seq("-maxDist" -> "3", "-bands" -> "4"))
      .parquet((a, in) => MultimodalOps.audioNearDuplicates(in(0),
        a.int("-maxDist"), a.int("-bands"))),
    Spec("warcExtract", "<warc-glob> <out.parquet>", "crawl intake: WARC " +
        "responses -> HTTP envelope strip -> extracted text")
      .run { (spark, a) =>
        sink(a, WarcIO.responses(WarcIO.read(spark, a.pos(0)))
          .select(col("target_uri"), col("warc_date"),
            WebOps.htmlToText(col("html")).as("text")))
      },
    Spec("pagerank", "<edges.parquet> <out.parquet>", "fixed-point " +
        "integer PageRank over (src, dst); -top keeps the k best",
      Seq("-iters" -> "5", "-top" -> "0", "-scale" -> "1000000000"))
      .parquet { (a, in) =>
        val (iters, top, scale) = (a.int("-iters"), a.int("-top"),
          a.long("-scale"))
        if (top > 0) GraphOps.pageRankTopK(in(0), iters, top, scale)
        else GraphOps.pageRank(in(0), iters, scale)
      },
    Spec("lpa", "<edges.parquet> <out.parquet>", "label-propagation " +
        "communities over (src, dst); -top writes the k largest",
      Seq("-rounds" -> "4", "-top" -> "0"))
      .parquet { (a, in) =>
        if (a.int("-top") > 0) GraphOps.labelPropagationCommunities(in(0),
          a.int("-rounds"), a.int("-top"))
        else GraphOps.labelPropagation(in(0), a.int("-rounds"))
      },
    Spec("nbRoute", "<train.parquet> <test.parquet> <out.parquet>",
        "multinomial naive-Bayes router trained on one corpus, applied to " +
        "another", Seq("-label" -> "lang", "-id" -> "doc_id",
        "-text" -> "text", "-buckets" -> "4096"),
        switches = Seq("-confusion"))
      .parquet { (a, in) =>
        val (label, id, text, b) = (a("-label"), a("-id"), a("-text"),
          a.int("-buckets"))
        if (a.has("-confusion"))
          ClassifierOps.nbConfusion(in(0), in(1), id, label, text, b)
        else ClassifierOps.nbClassify(in(1),
          ClassifierOps.nbTrain(in(0), label, text, b), id, text, b)
      },
    Spec("mmr", "<embeddings.parquet> <out.parquet>", "MMR-diversified " +
        "top-k against the embedding of row -query",
      Seq("-query" -> "0", "-k" -> "10", "-lambda" -> "0.7",
        "-cands" -> "200", "-id" -> "vec_id", "-vec" -> "embedding"))
      .parquet { (a, in) =>
        val (emb, id, vec, qid) = (in(0), a("-id"), a("-vec"),
          a.long("-query"))
        val qv = emb.filter(col(id) === qid)
          .select(col(vec).cast("array<double>"))
          .head().getSeq[Double](0).toSeq
        SimilarityOps.mmrSelect(emb.filter(col(id) =!= qid), qv,
          a.int("-k"), a.double("-lambda"), a.int("-cands"), id, vec)
      },
    Spec("bpe", InOut, "BPE merge table; -vocabStats also writes the " +
        "top-k subword statistics to <out>.vocab", Seq("-text" -> "text",
        "-merges" -> "10", "-top" -> "40"), switches = Seq("-vocabStats"))
      .parquet { (a, in) =>
        val merges = TokenizerOps.bpeMerges(in(0), a("-text"),
          a.int("-merges"))
        if (a.has("-vocabStats"))
          save(TokenizerOps.bpeTokenStats(in(0), a("-text"),
            a.int("-merges"), a.int("-top")), a.out + ".vocab")
        merges
      }
  )

  // statistics, data-quality, graph and variant-QC commands
  private def analytics: Seq[Command] = Seq(
    Spec("waterfill", "<counts.parquet> <out.parquet>", "budget-" +
        "constrained mixture allocation (-budget N or -fraction NUM/DEN " +
        "of the total available)", Seq("-source" -> "source",
        "-avail" -> "available", "-weight" -> "weight"),
        optional = Seq("-budget", "-fraction"))
      .parquet { (a, in) =>
        val (src, av, wt) = (a("-source"), a("-avail"), a("-weight"))
        (a.get("-budget"), a.get("-fraction")) match {
          case (Some(b), _) =>
            SamplingOps.waterFillAllocation(in(0), src, av, wt, b.toLong)
          case (None, Some(f)) =>
            val Array(n, d) = f.split("/", 2)
            SamplingOps.waterFillAllocation(in(0), src, av, wt, n.toLong,
              d.toLong)
          case _ => throw new IllegalArgumentException(
            "waterfill needs -budget N or -fraction NUM/DEN")
        }
      },
    Spec("shards", InOut, "size-balanced serpentine shard assignment; " +
        "-report also writes <out>.report", Seq("-size" -> "n_chars",
        "-tie" -> "doc_id", "-n" -> "8"), switches = Seq("-report"))
      .parquet { (a, in) =>
        val (size, tie, n) = (a("-size"), a("-tie"), a.int("-n"))
        if (a.has("-report"))
          save(ShardOps.shardReport(in(0), size, tie, n), a.out + ".report")
        ShardOps.balancedShards(in(0), size, tie, n)
      },
    Spec("pctRank", InOut, "per-group percent-rank score normalization",
      Seq("-group" -> "source", "-score" -> "score"))
      .parquet((a, in) => Stats.percentRankNormalize(in(0), a("-group"),
        a("-score"))),
    Spec("horizonDedup", InOut, "chained-gap recrawl dedup by -key, or by " +
        "-text content (adds fresh, epoch)", Seq("-key" -> "key",
        "-ts" -> "ts", "-tie" -> "event_id"), required = Seq("-horizon"),
        optional = Seq("-text"))
      .events { (a, in) =>
        val (ts, tie, h) = (a("-ts"), a("-tie"), a.long("-horizon"))
        a.get("-text") match {
          case Some(text) => DedupOps.horizonDedupText(in(0), text, ts, tie, h)
          case None => DedupOps.horizonDedup(in(0), a("-key"), ts, tie, h)
        }
      },
    Spec("hashSample", InOut, "deterministic fixed-size per-group sample " +
        "by md5(id) rank", Seq("-group" -> "source", "-id" -> "doc_id",
        "-n" -> "100"))
      .parquet((a, in) => SamplingOps.hashSampleN(in(0), a("-group"),
        a("-id"), a.int("-n"))),
    Spec("paddingWaste", InOut, "padding waste per length bucket",
      Seq("-len" -> "n_chars", "-caps" -> "512,1024,2048,4096"))
      .parquet((a, in) => TokenizerOps.paddingWasteReport(in(0), a("-len"),
        a.list("-caps").map(_.toLong))),
    Spec("neyman", InOut, "Neyman optimal stratified-sampling allocation",
      Seq("-stratum" -> "source", "-value" -> "n_chars", "-budget" -> "1000"))
      .parquet((a, in) => SamplingOps.neymanAllocation(in(0),
        a("-stratum"), a("-value"), a.long("-budget"))),
    Spec("sourceOverlapExact", InOut, "exact pairwise cross-source " +
        "duplication matrix", Seq("-text" -> "text", "-source" -> "source"))
      .parquet((a, in) => CorpusCompareOps.sourceOverlapExact(in(0),
        a("-text"), a("-source"))),
    Spec("oov", "<in.parquet> <vocab.parquet> <out.parquet>",
        "occurrence-weighted OOV rate per source", Seq("-text" -> "text",
        "-source" -> "source", "-vocab" -> "token"))
      .parquet((a, in) => TokenizerOps.oovRate(in(0), a("-text"),
        a("-source"), in(1), a("-vocab"))),
    Spec("waterfall", InOut, "ordered filter-impact waterfall over " +
        "'name:sqlExpr;...' rules", required = Seq("-rules"))
      .parquet { (a, in) =>
        val rules = a("-rules").split(";").toSeq.map { r =>
          val i = r.indexOf(':')
          if (i < 1) sys.error(s"bad rule '$r' (want name:expr)")
          r.take(i).trim -> org.apache.spark.sql.functions.expr(r.drop(i + 1))
        }
        ProfileOps.filterWaterfall(in(0), rules)
      },
    Spec("hits", "<edges.parquet> <out.parquet>", "integer HITS hub and " +
        "authority scores (top-k per side with -k)", Seq("-iters" -> "3"),
        optional = Seq("-k"))
      .parquet { (a, in) =>
        a.get("-k") match {
          case Some(k) => GraphOps.hitsTopK(in(0), a.int("-iters"), k.toInt)
          case None => GraphOps.hits(in(0), a.int("-iters"))
        }
      },
    Spec("rfm", InOut, "recency/frequency/monetary user-value tiers",
      Seq("-key" -> "user_id", "-ts" -> "ts", "-value" -> "value",
        "-tiers" -> "5"))
      .events((a, in) => Sessionize.rfmScores(in(0), a("-key"), a("-ts"),
        a("-value"), a.int("-tiers"))),
    Spec("centroidEval", InOut, "nearest-centroid label confusion over an " +
        "embedding table", Seq("-label" -> "label", "-vec" -> "embedding"))
      .parquet((a, in) => ClusteringOps.nearestCentroidEval(in(0),
        a("-label"), a("-vec"))),
    Spec("burst", InOut, "fixed-bucket burst-activity (bot-likelihood) " +
        "report", Seq("-key" -> "user_id", "-ts" -> "ts",
        "-bucket" -> "60000", "-threshold" -> "30"))
      .events((a, in) => Sessionize.burstActivityReport(in(0), a("-key"),
        a("-ts"), a.long("-bucket"), a.long("-threshold"))),
    Spec("fd", InOut, "functional-dependency violation audit",
      Seq("-k" -> "20"), required = Seq("-det", "-dep"))
      .parquet((a, in) => ProfileOps.fdViolations(in(0), a("-det"),
        a("-dep"), a.int("-k"))),
    Spec("trigrams", InOut, "top-k consecutive event-type trigram paths",
      Seq("-key" -> "user_id", "-type" -> "event_type", "-ts" -> "ts",
        "-id" -> "event_id", "-k" -> "20"))
      .events((a, in) => Sessionize.eventPathTrigrams(in(0), a("-key"),
        a("-type"), a("-ts"), a("-id"), a.int("-k"))),
    Spec("centroidDrift", InOut, "per-group embedding-centroid cosine vs " +
        "the global centroid", Seq("-group" -> "label", "-vec" -> "embedding"))
      .parquet((a, in) => ClusteringOps.sourceCentroidDrift(in(0),
        a("-group"), a("-vec"))),
    Spec("growth", InOut, "corpus growth curve: new vs re-seen " +
        "fingerprints per epoch", Seq("-text" -> "text", "-day" -> "day"))
      .parquet((a, in) => SnapshotOps.corpusGrowthCurve(in(0), a("-text"),
        a("-day"))),
    Spec("linkGraph", InOut, "domain-level link graph from crawled HTML " +
        "(-top: the k most-linked domains)", Seq("-src" -> "source",
        "-html" -> "html", "-id" -> "doc_id"), optional = Seq("-top"))
      .parquet { (a, in) =>
        val edges = WebOps.linkDomainEdges(in(0), a("-src"), a("-html"),
          a("-id"))
        a.get("-top").fold(edges)(k => WebOps.topLinkedDomains(edges, k.toInt))
      },
    Spec("rendezvous", InOut, "rendezvous-shard resize audit (keys moved)",
      Seq("-key" -> "doc_id"), required = Seq("-from", "-to"))
      .parquet((a, in) => ShardOps.rendezvousMoveReport(in(0), a("-key"),
        a.int("-from"), a.int("-to"))),
    Spec("ksDrift", InOut, "two-sample KS statistic between side=false " +
        "and side=true", required = Seq("-side", "-value"))
      .parquet((a, in) => Stats.ksDrift(in(0), a("-side"), a("-value"))),
    Spec("mi", InOut, "mutual information / NMI between two categorical " +
        "columns", required = Seq("-a", "-b"))
      .parquet((a, in) => Stats.mutualInformationReport(in(0), a("-a"),
        a("-b"))),
    Spec("kappa", InOut, "Cohen's kappa between two label columns",
        required = Seq("-a", "-b"))
      .parquet((a, in) => Stats.cohenKappa(in(0), a("-a"), a("-b"))),
    Spec("benford", InOut, "first-digit Benford audit with chi-square per " +
        "group", Seq("-group" -> "source"), required = Seq("-value"))
      .parquet((a, in) => Stats.benfordAudit(in(0), a("-group"),
        a("-value"))),
    Spec("silhouette", InOut, "simplified (centroid) silhouette per label",
      Seq("-label" -> "label", "-vec" -> "embedding"))
      .parquet((a, in) => ClusteringOps.simplifiedSilhouette(in(0),
        a("-label"), a("-vec"))),
    Spec("auc", InOut, "per-group ROC AUC (Mann-Whitney, exact midrank " +
        "ties)", required = Seq("-group", "-score", "-label"))
      .parquet((a, in) => Stats.aucByGroup(in(0), a("-group"), a("-score"),
        a("-label"))),
    Spec("entropy", InOut, "Shannon entropy of the value distribution per " +
        "group", required = Seq("-group", "-value"))
      .parquet((a, in) => Stats.entropyByGroup(in(0), a("-group"),
        a("-value"))),
    Spec("flesch", InOut, "Flesch reading-ease score",
      Seq("-id" -> "doc_id", "-text" -> "text"))
      .parquet((a, in) => TextOps.fleschReadability(in(0), a("-id"),
        a("-text"))),
    Spec("acf", InOut, "lag-k autocorrelation of bucketed volumes per key",
      Seq("-key" -> "event_type", "-ts" -> "ts", "-bucket" -> "86400000",
        "-lag" -> "7"))
      .parquet((a, in) => TimeSeriesOps.autocorrByKey(in(0), a("-key"),
        a("-ts"), a.long("-bucket"), a.int("-lag"))),
    Spec("ppr", "<edges.parquet> <seeds.parquet> <out.parquet>",
        "personalized PageRank from a seed node set (top-k with -k)",
      Seq("-iters" -> "5"), optional = Seq("-k"))
      .parquet { (a, in) =>
        a.get("-k") match {
          case Some(k) => GraphOps.personalizedPageRankTopK(in(0), in(1),
            a.int("-iters"), k.toInt)
          case None =>
            GraphOps.personalizedPageRank(in(0), in(1), a.int("-iters"))
        }
      },
    Spec("vocabCoverage", InOut, "top-k type coverage of the corpus token " +
        "mass", Seq("-text" -> "text", "-ks" -> "1000,10000,50000"))
      .parquet((a, in) => TokenizerOps.vocabCoverage(in(0), a("-text"),
        a.list("-ks").map(_.toInt))),
    Spec("tstv", InOut, "transition/transversion census per group (SNVs)",
      Seq("-ref" -> "referenceAllele", "-alt" -> "alternateAllele"),
      required = Seq("-group"))
      .parquet((a, in) => VariantQc.tstvRatio(in(0), a("-group"),
        a("-ref"), a("-alt"))),
    Spec("hwe", InOut, "Hardy-Weinberg chi-square per site from genotype " +
        "classes 0/1/2", required = Seq("-site", "-gt"))
      .parquet((a, in) => VariantQc.hardyWeinberg(in(0), a("-site"),
        a("-gt"))),
    Spec("concordance", "<a.parquet> <b.parquet> <out.parquet>",
        "genotype confusion grid between two callsets",
        required = Seq("-keys", "-class"))
      .parquet((a, in) => VariantQc.genotypeConcordance(in(0), in(1),
        a.list("-keys"), a("-class"))),
    Spec("afSpectrum", InOut, "allele-frequency spectrum histogram",
      Seq("-bins" -> "20"), required = Seq("-ac", "-an"))
      .parquet((a, in) => VariantQc.alleleFrequencySpectrum(in(0), a("-ac"),
        a("-an"), a.int("-bins"))),
    Spec("covUniformity", InOut, "coverage-evenness census per contig " +
        "over (referenceName, start, end, count)")
      .parquet((_, in) => VariantQc.coverageUniformity(in(0))),
    Spec("fleiss", InOut, "Fleiss' kappa over constant-rater-count items",
        required = Seq("-item", "-label"))
      .parquet((a, in) => Stats.fleissKappa(in(0), a("-item"), a("-label"))),
    Spec("bootstrapCi", InOut, "deterministic Poisson-bootstrap mean CI " +
        "per group", Seq("-b" -> "32", "-lo" -> "50", "-hi" -> "950"),
        required = Seq("-group", "-value", "-id"))
      .parquet((a, in) => SamplingOps.bootstrapCi(in(0), a("-group"),
        a("-value"), a("-id"), a.int("-b"), a.int("-lo"), a.int("-hi"))),
    Spec("seasonal", InOut, "weekly (day of week, hour) seasonality " +
        "profile per key", Seq("-key" -> "event_type", "-ts" -> "ts"))
      .events((a, in) => TimeSeriesOps.seasonalProfile(in(0), a("-key"),
        a("-ts"))),
    Spec("mendel", InOut, "Mendelian-consistency grid over trio genotype " +
        "classes", required = Seq("-father", "-mother", "-child"))
      .parquet((a, in) => VariantQc.mendelianViolations(in(0),
        a("-father"), a("-mother"), a("-child"))),
    Spec("kinship", InOut, "pairwise KING-robust kinship over a bounded " +
        "cohort", Seq("-maxSamples" -> "1000"),
        required = Seq("-sample", "-site", "-gt"))
      .parquet((a, in) => VariantQc.kingKinship(in(0), a("-sample"),
        a("-site"), a("-gt"), a.long("-maxSamples"))),
    Spec("inbreeding", InOut, "per-sample inbreeding coefficient F vs " +
        "cohort allele frequencies", required = Seq("-sample", "-site", "-gt"))
      .parquet((a, in) => VariantQc.inbreedingF(in(0), a("-sample"),
        a("-site"), a("-gt"))),
    Spec("subMatrix", InOut, "12-class SNV substitution census with " +
        "permille shares",
      Seq("-ref" -> "referenceAllele", "-alt" -> "alternateAllele"))
      .parquet((a, in) => VariantQc.substitutionMatrix(in(0), a("-ref"),
        a("-alt"))),
    Spec("indelSpectrum", InOut, "indel length histogram with edge-bin " +
        "clamping", Seq("-ref" -> "referenceAllele",
        "-alt" -> "alternateAllele", "-maxLen" -> "20"))
      .parquet((a, in) => VariantQc.indelLengthSpectrum(in(0), a("-ref"),
        a("-alt"), a.int("-maxLen"))),
    Spec("callRate", InOut, "per-sample call rate and genotype-class " +
        "census (NULL gt = missing)", required = Seq("-sample", "-gt"))
      .parquet((a, in) => VariantQc.callRate(in(0), a("-sample"), a("-gt"))),
    Spec("conformal", "<cal.parquet> <eval.parquet> <out.parquet>",
        "split-conformal threshold and achieved coverage",
      Seq("-alpha" -> "100"), required = Seq("-score"))
      .parquet((a, in) => LabelQaOps.conformalCoverage(in(0), in(1),
        a("-score"), a.int("-alpha"))),
    Spec("calibrationBins", InOut, "reliability/ECE report over stated " +
        "confidence permille", Seq("-bins" -> "10"),
        required = Seq("-conf", "-correct"))
      .parquet((a, in) => LabelQaOps.calibrationBins(in(0), a("-conf"),
        a("-correct"), a.int("-bins"))),
    Spec("trimmedMean", InOut, "per-group trimmed mean (permille trim " +
        "band)", Seq("-lo" -> "50", "-hi" -> "950"),
        required = Seq("-group", "-value", "-tie"))
      .parquet((a, in) => Stats.trimmedMeanByGroup(in(0), a("-group"),
        a("-value"), a("-tie"), a.int("-lo"), a.int("-hi"))),
    Spec("atkinson", InOut, "Atkinson (eps=2) inequality index per group",
        required = Seq("-group", "-value"))
      .parquet((a, in) => Stats.atkinsonIndex(in(0), a("-group"),
        a("-value"))),
    Spec("mad", InOut, "per-group median and median absolute deviation",
        required = Seq("-group", "-value", "-tie"))
      .parquet((a, in) => Stats.madByGroup(in(0), a("-group"), a("-value"),
        a("-tie"))),
    Spec("confidentLearning", InOut, "confident-learning label-noise " +
        "census", required = Seq("-given", "-pred", "-conf"))
      .parquet((a, in) => LabelQaOps.confidentLearningGrid(in(0),
        a("-given"), a("-pred"), a("-conf"))),
    Spec("numProfile", InOut, "single-scan numeric profile (nulls, " +
        "min/max, exact sum, mean/variance)", required = Seq("-cols"))
      .parquet((a, in) => ProfileOps.numericProfile(in(0), a.list("-cols"))),
    Spec("columnDrift", "<a.parquet> <b.parquet> <out.parquet>", "per-" +
        "column value-distribution drift (PSI over hash buckets)",
      Seq("-buckets" -> "64"), required = Seq("-cols"))
      .parquet((a, in) => ProfileOps.columnDrift(in(0), in(1),
        a.list("-cols"), a.int("-buckets"))),
    Spec("piiCensus", InOut, "per-source PII risk census",
      Seq("-text" -> "text", "-source" -> "source"))
      .parquet((a, in) => TextOps.piiCensus(in(0), a("-text"),
        a("-source"))),
    Spec("splitAudit", InOut, "temporal split leakage audit per " +
        "consecutive boundary", required = Seq("-split", "-ts", "-order"))
      .parquet((a, in) => SamplingOps.temporalSplitAudit(in(0), a("-split"),
        a("-ts"), a.list("-order"))),
    Spec("joinProbe", "<a.parquet> <b.parquet> <out.parquet>", "exact " +
        "pre-join cardinality probe (join rows, worst-key fanout)",
        required = Seq("-keyA", "-keyB"))
      .parquet((a, in) => SkewOps.joinSizeProbe(in(0), a("-keyA"), in(1),
        a("-keyB"))),
    Spec("transitionLatency", InOut, "per-transition latency percentiles",
      Seq("-key" -> "user_id", "-type" -> "event_type", "-ts" -> "ts",
        "-id" -> "event_id"))
      .events((a, in) => Sessionize.transitionLatency(in(0), a("-key"),
        a("-type"), a("-ts"), a("-id"))),
    Spec("robustScale", InOut, "median/IQR scaling within each group",
        required = Seq("-group", "-value", "-tie"))
      .parquet((a, in) => Stats.robustScale(in(0), a("-group"), a("-value"),
        a("-tie"))),
    Spec("skipgram", InOut, "skip-gram (center, context) co-occurrence " +
        "counts", Seq("-id" -> "doc_id", "-text" -> "text",
        "-window" -> "2", "-min" -> "5"))
      .parquet((a, in) => TextOps.skipGramPairs(in(0), a("-id"), a("-text"),
        a.int("-window"), a.long("-min"))),
    Spec("jsonProfile", InOut, "JSON key discovery over a semi-structured " +
        "column", required = Seq("-col"))
      .parquet((a, in) => ProfileOps.jsonKeyProfile(in(0), a("-col"))),
    Spec("moments", InOut, "mean/variance/skew/kurtosis per group",
        required = Seq("-group", "-value"))
      .parquet((a, in) => Stats.momentsByGroup(in(0), a("-group"),
        a("-value"))),
    Spec("rankedEval", InOut, "P@k, MRR and NDCG@k per query against " +
        "boolean relevance", Seq("-k" -> "10"),
        required = Seq("-query", "-rank", "-rel"))
      .parquet((a, in) => RankFusionOps.rankedEval(in(0), a("-query"),
        a("-rank"), a("-rel"), a.int("-k"))),
    Spec("targetEncode", InOut, "smoothed target encoding (shrunken " +
        "category means)", Seq("-m" -> "20"), required = Seq("-cat", "-value"))
      .parquet((a, in) => Stats.targetEncode(in(0), a("-cat"), a("-value"),
        a.long("-m"))),
    Spec("hapax", InOut, "lexical richness (tokens, types, hapax, TTR) " +
        "per source", Seq("-text" -> "text", "-source" -> "source"))
      .parquet((a, in) => TokenizerOps.hapaxStats(in(0), a("-text"),
        a("-source"))),
    Spec("cusum", InOut, "CUSUM level-shift changepoint per key over " +
        "bucketed volumes", Seq("-key" -> "event_type", "-ts" -> "ts",
        "-bucket" -> "86400000"))
      .parquet((a, in) => Sessionize.cusumChangepoint(in(0), a("-key"),
        a("-ts"), a.long("-bucket"))),
    Spec("profileDrift", "<a.parquet> <b.parquet> <out.parquet>",
        "per-column snapshot drift report", required = Seq("-colsA", "-colsB"))
      .parquet((a, in) => ProfileOps.profileDrift(in(0), a.list("-colsA"),
        in(1), a.list("-colsB"))),
    Spec("modularity", "<edges.parquet> <labels.parquet> <out.parquet>",
        "Newman modularity of a labeled partition")
      .parquet((_, in) => GraphOps.modularity(in(0), in(1))),
    Spec("interarrival", InOut, "per-group consecutive-event gap " +
        "percentiles", Seq("-key" -> "user_id", "-ts" -> "ts",
        "-id" -> "event_id", "-group" -> "event_type"))
      .events((a, in) => Sessionize.interArrivalStats(in(0), a("-key"),
        a("-ts"), a("-id"), a("-group"))),
    Spec("winsorize", InOut, "p1/p99 winsorization audit",
      Seq("-group" -> "event_type", "-value" -> "cents",
        "-tie" -> "event_id"))
      .parquet((a, in) => Stats.winsorizeReport(in(0), a("-group"),
        a("-value"), a("-tie"))),
    Spec("smooth", InOut, "dyadic recency-weighted trailing mean",
      Seq("-group" -> "event_type", "-day" -> "day", "-value" -> "n",
        "-window" -> "8"))
      .parquet((a, in) => TimeSeriesOps.dyadicTrailingMean(in(0),
        a("-group"), a("-day"), a("-value"), a.int("-window"))),
    Spec("assortativity", "<edges.parquet> <out.parquet>",
        "degree assortativity of an undirected graph")
      .parquet((_, in) => GraphOps.assortativity(in(0))),
    Spec("attribution", InOut, "first-touch conversion attribution",
      Seq("-key" -> "user_id", "-type" -> "event_type", "-ts" -> "ts",
        "-id" -> "event_id", "-touch" -> "view", "-conv" -> "purchase",
        "-window" -> "86400000"))
      .events((a, in) => Sessionize.firstTouchAttribution(in(0), a("-key"),
        a("-type"), a("-ts"), a("-id"), a("-touch"), a("-conv"),
        a.long("-window"))),
    Spec("cappedTopK", InOut, "global top-k under a per-group cap",
      Seq("-score" -> "n_chars", "-group" -> "source", "-tie" -> "doc_id",
        "-k" -> "20", "-cap" -> "3"))
      .parquet((a, in) => SamplingOps.cappedTopK(in(0), a("-score"),
        a("-group"), a("-tie"), a.int("-k"), a.int("-cap"))),
    Spec("madOutliers", InOut, "MAD robust outlier flags",
      Seq("-group" -> "event_type", "-value" -> "cents",
        "-tie" -> "event_id", "-k" -> "3500"))
      .parquet((a, in) => Stats.madOutliers(in(0), a("-group"), a("-value"),
        a("-tie"), a.long("-k"))),
    Spec("psi", InOut, "PSI distribution drift (side column true = " +
        "current slice)", Seq("-side" -> "is_cur", "-bucket" -> "b"))
      .parquet((a, in) => CorpusCompareOps.psiReport(in(0), a("-side"),
        a("-bucket"))),
    Spec("mergecc", "<labels.parquet> <pairs.parquet> <out.parquet>",
        "incremental connected-component merge of new pairs into labels")
      .parquet((_, in) => DedupOps.mergeClusters(in(0), in(1)))
  )
}
