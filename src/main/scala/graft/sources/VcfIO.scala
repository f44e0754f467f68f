package graft.sources

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import graft.core.GenomicDataset
import graft.model._

/** VCF text IO (public VCF 4.x spec; the reference parses via htsjdk
  * VCFCodec + the 2,426-LoC VariantContextConverter,
  * converters/VariantContextConverter.scala — here a direct text parser
  * covering the core semantics: multi-allelic splitting, GT/DP/GQ/AD/PL
  * FORMAT fields, INFO passthrough, FILTER states).
  *
  * Header lines stay driver-side (GenomicMetadata.headerLines), sample
  * names come from the #CHROM line — mirroring ADAMContext.loadVcf
  * (AC:2638-2804) keeping headers on the driver.
  */
object VcfIO {

  private implicit val vcEnc: org.apache.spark.sql.Encoder[VariantContext] =
    Encoders.product[VariantContext]
  private implicit val vEnc: org.apache.spark.sql.Encoder[Variant] =
    Encoders.product[Variant]
  private implicit val gEnc: org.apache.spark.sql.Encoder[Genotype] =
    Encoders.product[Genotype]

  /** Reserved INFO keys with per-alternate (Number=A) / per-allele
    * (Number=R) cardinality, from the VCF 4.3 spec reserved-keys table.
    * Header ##INFO lines override/extend these in [[read]]. */
  /** gVCF "any other allele" placeholders (<NON_REF> gVCF convention,
    * <*> in VCF 4.3). */
  val NonRefAlts: Set[String] = Set("<NON_REF>", "<*>")

  val ReservedInfoNumbers: Map[String, String] = Map(
    "AC" -> "A", "AF" -> "A", "CIGAR" -> "A",
    "AD" -> "R", "ADF" -> "R", "ADR" -> "R")

  /** Reserved FORMAT keys with per-alternate / per-allele / per-genotype
    * cardinality (VCF 4.3 spec table); drives slicing of passthrough
    * genotype attributes during the multi-allelic split. */
  val ReservedFormatNumbers: Map[String, String] = Map(
    "EC" -> "A",
    "AD" -> "R", "ADF" -> "R", "ADR" -> "R",
    "GL" -> "G", "GP" -> "G", "PL" -> "G", "PP" -> "G")

  private def sliceCsv(v: String, i: Int): String = {
    val parts = v.split(",", -1)
    if (i < parts.length) parts(i) else v
  }

  private def binom(n: Long, k: Long): Long = {
    if (k < 0 || k > n) 0L
    else {
      val kk = math.min(k, n - k)
      var r = 1L
      var i = 1L
      while (i <= kk) { r = r * (n - kk + i) / i; i += 1 }
      r
    }
  }

  /** VCF-spec Number=G vector indices for the biallelic slice keeping
    * {REF, alt a} at ARBITRARY ploidy P: the genotype with sorted allele
    * indices k1<=...<=kP sits at Σ C(k_m + m - 1, m), so the genotype
    * with c alt copies (and P-c refs) sits at Σ_{m=P-c+1..P} C(a+m-1, m).
    * Diploid reduces to (0, a(a+1)/2, a(a+1)/2 + a), haploid to (0, a). */
  private def genotypeIndices(ploidy: Int, a: Int): Seq[Int] =
    (0 to ploidy).map { c =>
      var s = 0L
      var m = ploidy - c + 1
      while (m <= ploidy) { s += binom(a + m - 1L, m.toLong); m += 1 }
      if (s > Int.MaxValue) Int.MaxValue else s.toInt
    }

  /** Re-index a PL vector for the biallelic split keeping {REF, alt a}
    * (converter semantics — reference VariantContextConverter reshapes PL
    * per ploidy + allele count). Unsliceable shapes drop the likelihoods
    * rather than carry wrong ones. */
  private def slicePl(pl: Seq[Double], ploidy: Int, altIdx: Int): Seq[Double] = {
    val idx = if (ploidy >= 1) genotypeIndices(ploidy, altIdx + 1) else Seq.empty
    if (idx.nonEmpty && idx.forall(_ < pl.length)) idx.map(pl) else Seq.empty
  }

  /** Slice a comma-separated FORMAT value by its declared Number for the
    * biallelic split keeping {REF, alt a} (A = per-alt element, R = ref +
    * alt elements, G = genotype re-index for ploidy 1/2). Unsliceable
    * shapes pass through unchanged. */
  private def sliceFormatValue(
      v: String, number: String, ploidy: Int, altIdx: Int): String = {
    val a = altIdx + 1
    number match {
      case "A" => sliceCsv(v, altIdx)
      case "R" =>
        val parts = v.split(",", -1)
        if (a < parts.length) s"${parts(0)},${parts(a)}" else v
      case "G" =>
        val parts = v.split(",", -1)
        val idx = if (ploidy >= 1) genotypeIndices(ploidy, a) else Seq.empty
        if (idx.nonEmpty && idx.forall(_ < parts.length))
          idx.map(parts).mkString(",")
        else v
      case _ => v
    }
  }

  /** Parse one record line into one VariantContext per ALT allele
    * (multi-allelic split, splitFromMultiAllelic flag — converter
    * semantics). Number=A/R INFO fields, the PL/GL vectors, and
    * Number=A/R/G FORMAT attributes are sliced per alternate during the
    * split. */
  def parseLine(line: String, samples: Seq[String],
      infoNumber: Map[String, String] = ReservedInfoNumbers,
      formatNumber: Map[String, String] = ReservedFormatNumbers): Seq[VariantContext] = {
    val f = line.split("\t", -1)
    val chrom = f(0); val pos = f(1).toLong - 1
    val ids = if (f(2) == ".") Seq.empty[String] else f(2).split(";").toSeq
    val ref = f(3)
    val alts = f(4).split(",").toSeq.filter(_ != ".")
    val qual = if (f(5) == ".") None else Some(f(5).toDouble)
    val (filtersApplied, filtersPassed, filtersFailed) = f(6) match {
      case "." => (Some(false), None, Seq.empty[String])
      case "PASS" => (Some(true), Some(true), Seq.empty[String])
      case other => (Some(true), Some(false), other.split(";").toSeq)
    }
    val info: Map[String, String] =
      if (f.length <= 7 || f(7) == ".") Map.empty
      else f(7).split(";").iterator.map { kv =>
        val i = kv.indexOf('=')
        if (i > 0) kv.substring(0, i) -> kv.substring(i + 1) else kv -> "true"
      }.toMap
    val format = if (f.length > 8) f(8).split(":").toSeq else Seq.empty

    // spec: INFO END defines the interval for symbolic/structural alleles
    // (<DEL>, <DUP>, ...); otherwise the record spans the REF bases
    val recordEnd = info.get("END").flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(pos + ref.length)

    val isMulti = alts.length > 1
    // gVCF conventions: <NON_REF> (and the VCF 4.3 alias <*>) is a
    // placeholder for "any other allele" — it keeps its allele INDEX for
    // Number=A/R/G slicing but never becomes a split record of its own.
    // A record whose only alt is the placeholder is a reference block
    // spanning [POS, END) with no alternate allele.
    val isRefBlock = alts.nonEmpty && alts.forall(NonRefAlts.contains)
    val emitted: Seq[(String, Int)] =
      if (isRefBlock) Seq((null, -1))
      else alts.zipWithIndex.filterNot { case (a, _) => NonRefAlts.contains(a) }
    emitted.map { case (alt, altIdx) =>
      val infoForAlt =
        if (!isMulti) info
        else info.map { case (k, v) =>
          infoNumber.get(k) match {
            case Some("A") => k -> sliceCsv(v, altIdx)
            case Some("R") =>
              val parts = v.split(",", -1)
              k -> (if (altIdx + 1 < parts.length) s"${parts(0)},${parts(altIdx + 1)}"
                    else v)
            case _ => k -> v
          }
        }
      val variant = Variant(
        referenceName = Some(chrom), start = Some(pos),
        end = Some(recordEnd),
        names = ids, splitFromMultiAllelic = Some(isMulti),
        referenceAllele = Some(ref), alternateAllele = Option(alt),
        quality = qual, filtersApplied = filtersApplied,
        filtersPassed = filtersPassed, filtersFailed = filtersFailed,
        annotation = infoForAlt)

      val genotypes = samples.zipWithIndex.flatMap { case (sample, si) =>
        if (f.length <= 9 + si) None
        else {
          val vals = f(9 + si).split(":", -1).toSeq
          val kv = format.zip(vals).toMap
          val gtStr = kv.getOrElse("GT", "./.")
          val phased = gtStr.contains('|')
          val alleleIdx = gtStr.split("[/|]").toSeq
          val alleles = alleleIdx.map {
            case "." => "NO_CALL"
            case "0" => "REF"
            case a if a.toInt == altIdx + 1 => "ALT"
            case _ => "OTHER_ALT"
          }
          def intField(k: String): Option[Int] =
            kv.get(k).filter(v => v != "." && v.nonEmpty).map(_.toInt)
          val ad = kv.get("AD").map(_.split(",").toSeq)
          val typedKeys = Seq("GT", "GQ", "DP", "AD", "PL", "GL",
            "MIN_DP", "PS", "PQ", "SB")
          val restAttrs = (kv -- typedKeys).map { case (k, v) =>
            k -> (if (isMulti)
              sliceFormatValue(v, formatNumber.getOrElse(k, "."),
                alleleIdx.length, altIdx)
            else v)
          }
          Some(Genotype(
            referenceName = Some(chrom), start = Some(pos),
            end = Some(recordEnd),
            variant = Some(variant), sampleId = Some(sample),
            alleles = alleles, phased = Some(phased),
            genotypeQuality = intField("GQ"),
            readDepth = intField("DP"),
            minReadDepth = intField("MIN_DP"),
            phaseSetId = intField("PS"),
            phaseQuality = intField("PQ"),
            strandBiasComponents = kv.get("SB").toSeq
              .flatMap(_.split(",").filter(v => v != "." && v.nonEmpty)
                .map(_.toInt)),
            splitFromMultiAllelic = Some(isMulti),
            referenceReadDepth = ad.flatMap(_.headOption)
              .filter(_ != ".").map(_.toInt),
            alternateReadDepth =
              if (altIdx < 0) None // reference block: no alternate
              else ad.flatMap(_.lift(altIdx + 1))
                .filter(_ != ".").map(_.toInt),
            genotypeLikelihoods = {
              // PL preferred; GL (log10 likelihoods) as fallback, sliced
              // with the same genotype re-index
              val full = kv.get("PL").orElse(kv.get("GL")).toSeq
                .flatMap(_.split(",").filter(_ != ".").map(_.toDouble))
              if (isMulti) slicePl(full, alleleIdx.length, altIdx) else full
            },
            likelihoodsPhred =
              if (kv.contains("PL")) Some(true)
              else if (kv.contains("GL")) Some(false)
              else None,
            formatOrder = format,
            attributes = restAttrs))
        }
      }
      VariantContext(Some(chrom), Some(pos), Some(recordEnd),
        Some(variant), genotypes)
    }
  }

  case class VcfBundle(
      contexts: Dataset[VariantContext],
      meta: GenomicMetadata,
      samples: Seq[String])

  /** Parsed header state: (meta, samples, infoNumber, formatNumber).
    * ##INFO/##FORMAT <ID=X,Number=A,...> declarations drive per-alt
    * slicing during the multi-allelic split; reserved spec keys fallback. */
  private def parseVcfHeader(headerLines: Seq[String])
      : (GenomicMetadata, Seq[String], Map[String, String], Map[String, String]) = {
    val samples = headerLines.find(_.startsWith("#CHROM")).toSeq
      .flatMap(_.split("\t").drop(9))
    val contigs = headerLines.filter(_.startsWith("##contig=")).zipWithIndex.map {
      case (l, i) =>
        val body = l.stripPrefix("##contig=<").stripSuffix(">")
        val kv = body.split(",").iterator.map { p =>
          val j = p.indexOf('=')
          p.substring(0, j) -> p.substring(j + 1)
        }.toMap
        SequenceRecord(kv("ID"), kv.get("length").map(_.toLong).getOrElse(0L),
          index = Some(i))
    }
    val meta = GenomicMetadata(
      sequences = SequenceDictionary(contigs),
      samples = samples.map(s => Sample(s)),
      headerLines = headerLines.filter(_.startsWith("##")).map(HeaderLine))
    def numbersOf(prefix: String): Map[String, String] = headerLines
      .filter(_.startsWith(s"##$prefix=<"))
      .flatMap { l =>
        val body = l.stripPrefix(s"##$prefix=<").stripSuffix(">")
        val kv = body.split(",").iterator
          .filter(_.contains('='))
          .map { p => val j = p.indexOf('='); p.substring(0, j) -> p.substring(j + 1) }
          .toMap
        for (id <- kv.get("ID"); num <- kv.get("Number")) yield id -> num
      }.toMap
    (meta, samples,
      ReservedInfoNumbers ++ numbersOf("INFO"),
      ReservedFormatNumbers ++ numbersOf("FORMAT"))
  }

  /** Read a VCF. `stringency` mirrors htsjdk's ValidationStringency (the
    * reference CLI's -stringency flag): STRICT propagates any malformed
    * record as a task failure; LENIENT skips it with one WARN per record;
    * SILENT skips without logging. Malformed-record handling is per-row,
    * so a lenient 100 TB read loses only the bad lines, never a split. */
  def read(spark: SparkSession, path: String,
      stringency: String = "STRICT"): VcfBundle = {
    import spark.implicits._
    val s = stringency.toUpperCase
    require(Set("STRICT", "LENIENT", "SILENT")(s),
      s"stringency must be SILENT, LENIENT or STRICT, got: $stringency")
    // bgzipped VCF reads through the splittable BGZF text path (block-level
    // parallelism within one file); plain text through the native reader
    val lines =
      if (path.endsWith(".gz") || path.endsWith(".bgz"))
        BgzfText.readLines(spark, path)
      else spark.read.textFile(path)
    // header from the file head(s), driver-side — never a distributed scan
    val headerLines = TextHeader.headerLines(spark, path, "#")
    val (meta, samples, infoNumber, formatNumber) = parseVcfHeader(headerLines)
    val records = lines
      .filter((l: String) => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        if (s == "STRICT") parseLine(l, samples, infoNumber, formatNumber)
        else
          try parseLine(l, samples, infoNumber, formatNumber)
          catch {
            case e: Exception =>
              if (s == "LENIENT")
                org.slf4j.LoggerFactory.getLogger(VcfIO.getClass).warn(
                  s"skipping malformed VCF record (${e.getMessage}): " +
                    l.take(120))
              Seq.empty
          }
      }
    VcfBundle(records, meta, samples)
  }

  /** Region-pruned read of a tabix-indexed .vcf.gz (`loadIndexedVcf`,
    * AC:2690-2804): the .tbi maps query regions to compressed chunks;
    * chunks are merged disjoint (each line parses once) and fan out one
    * task per chunk. */
  def readIndexed(
      spark: SparkSession, path: String,
      regions: Seq[graft.model.ReferenceRegion]): VcfBundle = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val headerLines = {
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(
        Bgzf.inputStream(fs.open(p)), "UTF-8"))
      try Iterator.continually(br.readLine())
        .takeWhile(l => l != null && l.startsWith("#")).toVector
      finally br.close()
    }
    val (meta, samples, infoNumber, formatNumber) = parseVcfHeader(headerLines)
    val index = {
      val in = fs.open(new org.apache.hadoop.fs.Path(path + ".tbi"))
      try Tabix.read(in) finally in.close()
    }
    val chunks = Tabix.chunksForRegions(index, regions)
    val regionsB = spark.sparkContext.broadcast(regions)
    val confB = spark.sparkContext.broadcast(HadoopConf(spark))
    val file = path
    val rdd = spark.sparkContext
      .parallelize(chunks, math.max(1, chunks.length))
      .flatMap { chunk =>
        val fp = new org.apache.hadoop.fs.Path(file)
        val tfs = fp.getFileSystem(confB.value.value)
        val raw = tfs.open(fp)
        val coffset = chunk.beg >> 16
        raw.seek(coffset)
        val in = new Bgzf.BgzfBlockInput(raw, coffset)
        in.skipFully(chunk.beg & 0xffffL)
        val rs = regionsB.value
        val out = Iterator.newBuilder[VariantContext]
        var done = false
        while (!done && in.virtualPos < chunk.end) {
          val l = in.readLine()
          if (l == null) done = true
          else if (l._1.nonEmpty && !l._1.startsWith("#"))
            out ++= parseLine(l._1, samples, infoNumber, formatNumber)
              .filter(vc => (vc.referenceName, vc.start, vc.end) match {
                case (Some(rn), Some(s), Some(e)) =>
                  rs.exists(rr => rr.referenceName == rn && s < rr.end && rr.start < e)
                case _ => false
              })
        }
        in.close()
        out.result()
      }
    VcfBundle(spark.createDataset(rdd), meta, samples)
  }

  /** Driver-streamed single bgzipped VCF with a tabix index. Input must be
    * coordinate-sorted (sort ahead with orderBy(referenceName, start)). */
  def writeBgzfIndexed(
      contexts: Dataset[VariantContext],
      meta: GenomicMetadata,
      samples: Seq[String],
      path: String): Unit = {
    val spark = contexts.sparkSession
    val header =
      (Seq("##fileformat=VCFv4.2") ++
        meta.headerLines.map(_.raw).filterNot(_.startsWith("##fileformat")) ++
        Seq((Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
          "INFO") ++ (if (samples.nonEmpty) "FORMAT" +: samples else Nil))
          .mkString("\t"))).mkString("", "\n", "\n")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new Bgzf.BgzfOutputStream(fs.create(p, true))
    val tbx = new Tabix.Builder()
    try {
      out.write(header.getBytes("UTF-8"))
      contexts.toLocalIterator().forEachRemaining { vc =>
        val vStart = out.virtualOffset
        out.write(toVcfLine(vc, samples).getBytes("UTF-8")); out.write('\n')
        for (rn <- vc.referenceName; s <- vc.start)
          tbx.add(rn, s, vc.end.getOrElse(s + 1), vStart, out.virtualOffset)
      }
    } finally out.close()
    val ti = fs.create(new org.apache.hadoop.fs.Path(path + ".tbi"), true)
    try Tabix.write(tbx.result(), ti) finally ti.close()
  }

  def readVariants(spark: SparkSession, path: String,
      stringency: String = "STRICT"): GenomicDataset[Variant] = {
    import spark.implicits._
    val b = read(spark, path, stringency)
    GenomicDataset(b.contexts.flatMap(_.variant), b.meta)
  }

  def readGenotypes(spark: SparkSession, path: String,
      stringency: String = "STRICT"): GenomicDataset[Genotype] = {
    import spark.implicits._
    val b = read(spark, path, stringency)
    GenomicDataset(b.contexts.flatMap(_.genotypes), b.meta)
  }

  // ------------------------------- write -----------------------------------

  private def fmtDouble(d: Double): String =
    if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString
    else {
      // C-style %.6g — what freebayes/bcftools print (6 significant
      // digits, trailing zeros stripped, e-XX exponent) — adopted ONLY
      // when it round-trips to the same double; otherwise the exact
      // Double.toString wins (formatting must never lose precision).
      // So a written QUAL reads back byte-identically.
      val raw =
        String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
      val (m, e) = raw.indexOf('e') match {
        case -1 => (raw, "")
        case i => (raw.substring(0, i), raw.substring(i))
      }
      val m2 =
        if (m.contains('.'))
          m.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
        else m
      val g = m2 + e
      if (g.nonEmpty && g.toDouble == d) g else d.toString
    }

  /** Serialize one VariantContext (one site, pre-grouped genotypes) to a
    * VCF line (saveAsVcf, VariantContextDataset.scala:356-466). */
  def toVcfLine(vc: VariantContext, samples: Seq[String]): String = {
    val v = vc.variant.getOrElse(Variant())
    val base = Seq(
      vc.referenceName.getOrElse("."),
      vc.start.map(s => (s + 1).toString).getOrElse("."),
      if (v.names.isEmpty) "." else v.names.mkString(";"),
      v.referenceAllele.getOrElse("."),
      v.alternateAllele.getOrElse("."),
      v.quality.map(fmtDouble).getOrElse("."),
      (v.filtersApplied, v.filtersPassed) match {
        case (Some(true), Some(true)) => "PASS"
        case (Some(true), Some(false)) =>
          // '.' (unknown) when no named filter — "FAIL" is not a spec value
          if (v.filtersFailed.isEmpty) "." else v.filtersFailed.mkString(";")
        case _ => "."
      },
      if (v.annotation.isEmpty) "."
      else v.annotation.toSeq.sortBy(_._1)
        .map { case (k, vv) => if (vv == "true") k else s"$k=$vv" }
        .mkString(";"))
    val bySample = vc.genotypes.flatMap(g => g.sampleId.map(_ -> g)).toMap
    // FORMAT is the union of fields any genotype at this site carries, in
    // a fixed canonical order, followed by untyped attributes sorted by
    // key — every field the reader maps (parseLine:185-221) round-trips.
    val gs = vc.genotypes
    def anyOf(p: Genotype => Boolean) = gs.exists(p)
    val typed = Seq(
      "GQ" -> anyOf(_.genotypeQuality.nonEmpty),
      "DP" -> anyOf(_.readDepth.nonEmpty),
      "MIN_DP" -> anyOf(_.minReadDepth.nonEmpty),
      "AD" -> anyOf(g =>
        g.referenceReadDepth.nonEmpty || g.alternateReadDepth.nonEmpty),
      "SB" -> anyOf(_.strandBiasComponents.nonEmpty),
      // likelihoods go back under the key they came from: GL only when
      // every likelihood-carrying genotype is GL-sourced (log10 floats
      // under PL would violate the spec's phred-int contract)
      (if (gs.exists(_.genotypeLikelihoods.nonEmpty) &&
        gs.filter(_.genotypeLikelihoods.nonEmpty)
          .forall(_.likelihoodsPhred.contains(false))) "GL" else "PL")
        -> anyOf(_.genotypeLikelihoods.nonEmpty),
      "PS" -> anyOf(_.phaseSetId.nonEmpty),
      "PQ" -> anyOf(_.phaseQuality.nonEmpty)
    ).collect { case (k, true) => k }
    val attrKeys = gs.flatMap(_.attributes.keys).distinct.sorted
    val canonical = "GT" +: (typed ++ attrKeys)
    // byte-exact round-trips, so a read/write cycle does not reorder a
    // record's FORMAT keys: when every
    // genotype at the site remembers the SAME original FORMAT order and
    // it covers at least the keys we would emit, re-emit that order —
    // keys are self-describing per record, and keys the original
    // declared with all-missing values render "." again (pure fidelity,
    // e.g. GIAB's GT:PS:DP:ADALL:AD:GQ with PS='.')
    val keys = gs.flatMap(_.formatOrder).distinct match {
      case orig if orig.nonEmpty && orig.headOption.contains("GT") &&
        canonical.forall(orig.contains) &&
        gs.forall(g => g.formatOrder.isEmpty || g.formatOrder == orig) =>
        orig
      case _ => canonical
    }
    val fmt = keys.mkString(":")
    def cell(g: Genotype, k: String): String = k match {
      case "GQ" => g.genotypeQuality.map(_.toString).getOrElse(".")
      case "DP" => g.readDepth.map(_.toString).getOrElse(".")
      case "MIN_DP" => g.minReadDepth.map(_.toString).getOrElse(".")
      case "AD" =>
        if (g.referenceReadDepth.isEmpty && g.alternateReadDepth.isEmpty) "."
        else s"${g.referenceReadDepth.map(_.toString).getOrElse(".")}," +
          g.alternateReadDepth.map(_.toString).getOrElse(".")
      case "SB" =>
        if (g.strandBiasComponents.isEmpty) "."
        else g.strandBiasComponents.mkString(",")
      case "PL" =>
        // mixed-source site: the emitted key is PL, so GL-sourced log10
        // floats must be converted to phred ints (PL = round(−10·GL)) —
        // never emit floats under PL (spec phred-int contract)
        if (g.genotypeLikelihoods.isEmpty) "."
        else if (g.likelihoodsPhred.contains(false))
          g.genotypeLikelihoods
            .map(v => math.round(-10.0 * v).toString).mkString(",")
        else g.genotypeLikelihoods.map(fmtDouble).mkString(",")
      case "GL" =>
        if (g.genotypeLikelihoods.isEmpty) "."
        else g.genotypeLikelihoods.map(fmtDouble).mkString(",")
      case "PS" => g.phaseSetId.map(_.toString).getOrElse(".")
      case "PQ" => g.phaseQuality.map(_.toString).getOrElse(".")
      case a => g.attributes.getOrElse(a, ".")
    }
    val gts = samples.map { s =>
      bySample.get(s).map { g =>
        val gtSep = if (g.phased.getOrElse(false)) "|" else "/"
        val gt = g.alleles.map {
          case "REF" => "0"
          case "ALT" => "1"
          case "NO_CALL" => "."
          case _ => "2"
        }.mkString(gtSep)
        keys.map { case "GT" => gt; case k => cell(g, k) }.mkString(":")
      }.getOrElse("./.")
    }
    if (samples.isEmpty) base.mkString("\t")
    else (base ++ Seq(fmt) ++ gts).mkString("\t")
  }

  def write(
      contexts: Dataset[VariantContext],
      meta: GenomicMetadata,
      samples: Seq[String],
      path: String,
      asSingleFile: Boolean = false): Unit = {
    val spark = contexts.sparkSession
    import spark.implicits._
    val header =
      (Seq("##fileformat=VCFv4.2") ++
        meta.headerLines.map(_.raw).filterNot(_.startsWith("##fileformat")) ++
        Seq((Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
          "INFO") ++ (if (samples.nonEmpty) "FORMAT" +: samples else Nil))
          .mkString("\t"))).mkString("", "\n", "\n")
    val body = s"$path.body"
    contexts.map(vc => toVcfLine(vc, samples)).write.mode("overwrite").text(body)
    if (asSingleFile)
      FileMerger.mergeToSingleFile(spark, body, path, Some(header))
    else {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$body/_header.vcf"), true)
      out.write(header.getBytes("UTF-8"))
      out.close()
      fs.rename(new org.apache.hadoop.fs.Path(body),
        new org.apache.hadoop.fs.Path(path))
    }
  }
}
