package graft.model

/** The bdg-formats-mirror record types (SURVEY.md §1.2-1.3): one Scala case
  * class + implicit Encoder per schema, replacing the reference's
  * Avro-record/codegen-Product triad (adam-codegen DumpSchemasToProduct.scala:
  * 42-82 maps UNION[null,X]→Option, ARRAY→Seq, MAP→Map, ENUM→String — the
  * same mapping natively here). All fields nullable by design
  * (docs/architecture/schemas.rst:33-40): validation happens at format
  * ingress/egress, not in the schema.
  */

/** A read and its alignment (reference: bdg-formats Alignment; field set per
  * AlignmentDataset usage, ds/read/AlignmentDataset.scala:529-556,
  * 1805-1920; ds/read/FlagStat.scala:95-130). */
case class Alignment(
    referenceName: Option[String] = None,
    start: Option[Long] = None,
    end: Option[Long] = None,
    originalStart: Option[Long] = None,
    readName: Option[String] = None,
    sequence: Option[String] = None,
    qualityScores: Option[String] = None,
    cigar: Option[String] = None,
    originalCigar: Option[String] = None,
    basesTrimmedFromStart: Option[Int] = None,
    basesTrimmedFromEnd: Option[Int] = None,
    mappingQuality: Option[Int] = None,
    readPaired: Option[Boolean] = None,
    properPair: Option[Boolean] = None,
    readMapped: Option[Boolean] = None,
    mateMapped: Option[Boolean] = None,
    readInFragment: Option[Int] = None,
    failedVendorQualityChecks: Option[Boolean] = None,
    duplicateRead: Option[Boolean] = None,
    readNegativeStrand: Option[Boolean] = None,
    mateNegativeStrand: Option[Boolean] = None,
    primaryAlignment: Option[Boolean] = None,
    secondaryAlignment: Option[Boolean] = None,
    supplementaryAlignment: Option[Boolean] = None,
    mismatchingPositions: Option[String] = None,
    mateReferenceName: Option[String] = None,
    mateAlignmentStart: Option[Long] = None,
    insertSize: Option[Long] = None,
    readGroupId: Option[String] = None,
    readGroupSampleId: Option[String] = None,
    attributes: Map[String, String] = Map.empty)

/** Reads grouped by sequenced fragment (bdg-formats Fragment;
  * ds/fragment/FragmentDataset.scala:294). */
case class Fragment(
    name: Option[String] = None,
    readGroupId: Option[String] = None,
    insertSize: Option[Long] = None,
    alignments: Seq[Alignment] = Seq.empty)

/** Unaligned read (bdg-formats Read; ds/read/ReadDataset.scala). */
case class Read(
    name: Option[String] = None,
    description: Option[String] = None,
    alphabet: Option[String] = None,
    sequence: Option[String] = None,
    length: Option[Long] = None,
    qualityScores: Option[String] = None,
    sampleId: Option[String] = None)

/** Full-length sequence (bdg-formats Sequence;
  * ds/sequence/SequenceDataset.scala:233). */
case class Sequence(
    name: Option[String] = None,
    description: Option[String] = None,
    alphabet: Option[String] = None,
    sequence: Option[String] = None,
    length: Option[Long] = None,
    attributes: Map[String, String] = Map.empty,
    sampleId: Option[String] = None)

/** Sub-interval of a sequence (bdg-formats Slice;
  * ds/sequence/SliceDataset.scala:220). */
case class Slice(
    name: Option[String] = None,
    description: Option[String] = None,
    alphabet: Option[String] = None,
    sequence: Option[String] = None,
    start: Option[Long] = None,
    end: Option[Long] = None,
    strand: Option[String] = None,
    length: Option[Long] = None,
    totalLength: Option[Long] = None,
    index: Option[Int] = None,
    slices: Option[Int] = None,
    attributes: Map[String, String] = Map.empty,
    sampleId: Option[String] = None)

/** Generic annotation interval (bdg-formats Feature;
  * ds/feature/FeatureDataset.scala; parser fields
  * ds/feature/FeatureParser.scala:60-411). */
case class Feature(
    featureId: Option[String] = None,
    name: Option[String] = None,
    source: Option[String] = None,
    featureType: Option[String] = None,
    referenceName: Option[String] = None,
    start: Option[Long] = None,
    end: Option[Long] = None,
    strand: Option[String] = None,
    phase: Option[Int] = None,
    frame: Option[Int] = None,
    score: Option[Double] = None,
    geneId: Option[String] = None,
    transcriptId: Option[String] = None,
    exonId: Option[String] = None,
    proteinId: Option[String] = None,
    aliases: Seq[String] = Seq.empty,
    parentIds: Seq[String] = Seq.empty,
    dbxrefs: Seq[String] = Seq.empty,
    ontologyTerms: Seq[String] = Seq.empty,
    circular: Option[Boolean] = None,
    attributes: Map[String, String] = Map.empty)

/** Per-interval depth (plain case class in the reference too —
  * models/Coverage.scala, NOT Avro). */
case class Coverage(
    referenceName: String,
    start: Long,
    end: Long,
    count: Double,
    optSampleId: Option[String] = None)

/** Variant site (bdg-formats Variant; ds/variant/VariantDataset.scala). */
case class Variant(
    referenceName: Option[String] = None,
    start: Option[Long] = None,
    end: Option[Long] = None,
    names: Seq[String] = Seq.empty,
    splitFromMultiAllelic: Option[Boolean] = None,
    referenceAllele: Option[String] = None,
    alternateAllele: Option[String] = None,
    quality: Option[Double] = None,
    filtersApplied: Option[Boolean] = None,
    filtersPassed: Option[Boolean] = None,
    filtersFailed: Seq[String] = Seq.empty,
    annotation: Map[String, String] = Map.empty)

/** Genotype call at a site (bdg-formats Genotype;
  * ds/variant/GenotypeDataset.scala). Alleles use REF/ALT/NO_CALL/
  * OTHER_ALT symbols as strings (ENUM→String mapping). */
case class Genotype(
    referenceName: Option[String] = None,
    start: Option[Long] = None,
    end: Option[Long] = None,
    variant: Option[Variant] = None,
    sampleId: Option[String] = None,
    alleles: Seq[String] = Seq.empty,
    phased: Option[Boolean] = None,
    quality: Option[Double] = None,
    genotypeQuality: Option[Int] = None,
    readDepth: Option[Int] = None,
    minReadDepth: Option[Int] = None,
    referenceReadDepth: Option[Int] = None,
    alternateReadDepth: Option[Int] = None,
    genotypeLikelihoods: Seq[Double] = Seq.empty,
    // which FORMAT key genotypeLikelihoods came from: Some(true) = PL
    // (phred-scaled), Some(false) = GL (log10 floats). The writer emits
    // the SAME key back — emitting GL floats under PL would hand a
    // spec-violating file to any downstream tool (a byte-level read-back
    // of the written VCF checks this).
    likelihoodsPhred: Option[Boolean] = None,
    // original per-record FORMAT key order: VCF writers differ in
    // key order (freebayes: GT:DP:AD:RO:QR:AO:QA:GL) and keys are
    // self-describing, so order is the ONE thing a canonical writer
    // loses. The writer re-emits this order when it matches the key set
    // it would write, making round-trips byte-exact.
    formatOrder: Seq[String] = Seq.empty,
    strandBiasComponents: Seq[Int] = Seq.empty,
    splitFromMultiAllelic: Option[Boolean] = None,
    phaseSetId: Option[Int] = None,
    phaseQuality: Option[Int] = None,
    attributes: Map[String, String] = Map.empty)

/** Site + all genotypes at the site (models/VariantContext.scala:113; SQL
  * mirror nests genotypes, sql/VariantContext.scala:37-41). */
case class VariantContext(
    referenceName: Option[String] = None,
    start: Option[Long] = None,
    end: Option[Long] = None,
    variant: Option[Variant] = None,
    genotypes: Seq[Genotype] = Seq.empty)
