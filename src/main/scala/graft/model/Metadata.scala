package graft.model

/** Driver-side metadata carried alongside each genomic Dataset (SURVEY.md
  * §1.1, §1.3): sequence dictionary, read groups, samples, processing
  * lineage, header lines. The reference persists these as Avro sidecars
  * (_references.avro etc., GenomicDataset.scala:475-487, 3464-3497); we
  * persist the same content as one-file parquet sidecars next to the
  * parquet payload, written on the driver without a Spark job
  * (graft.core.Sidecars) — bounded driver-side data, never shuffled.
  */

/** One reference contig (reference: models/SequenceDictionary.scala
  * SequenceRecord). */
case class SequenceRecord(
    name: String,
    length: Long,
    md5: Option[String] = None,
    url: Option[String] = None,
    index: Option[Int] = None)

/** Ordered contig dictionary — the genome coordinate space
  * (models/SequenceDictionary.scala:523). */
case class SequenceDictionary(records: Seq[SequenceRecord]) {
  private val byName: Map[String, SequenceRecord] =
    records.map(r => r.name -> r).toMap

  def apply(name: String): Option[SequenceRecord] = byName.get(name)
  def containsReferenceName(name: String): Boolean = byName.contains(name)
  def totalLength: Long = records.map(_.length).sum

  /** SAM-header order index of a contig (sortByReferencePositionAndIndex
    * semantics, AlignmentDataset.scala:1043). */
  def index(name: String): Option[Int] =
    byName.get(name).flatMap(_.index)
      .orElse(Option(records.indexWhere(_.name == name)).filter(_ >= 0))

  /** Metadata-union law (GenomicDataset.union, GD:490-507): merge by name,
    * requiring equal lengths for shared contigs. */
  def ++(other: SequenceDictionary): SequenceDictionary = {
    other.records.foreach { r =>
      byName.get(r.name).foreach { mine =>
        require(mine.length == r.length,
          s"Contig ${r.name} length conflict: ${mine.length} vs ${r.length}")
      }
    }
    SequenceDictionary(records ++ other.records.filterNot(r => byName.contains(r.name)))
  }

  def isEmpty: Boolean = records.isEmpty
}

object SequenceDictionary {
  val empty: SequenceDictionary = SequenceDictionary(Seq.empty)
}

/** Read group (models/ReadGroupDictionary.scala). */
case class ReadGroup(
    sampleId: String,
    id: String,
    sequencingCenter: Option[String] = None,
    description: Option[String] = None,
    runDateEpoch: Option[Long] = None,
    flowOrder: Option[String] = None,
    keySequence: Option[String] = None,
    library: Option[String] = None,
    predictedMedianInsertSize: Option[Int] = None,
    platform: Option[String] = None,
    platformUnit: Option[String] = None)

case class ReadGroupDictionary(readGroups: Seq[ReadGroup]) {
  private val byId = readGroups.map(r => r.id -> r).toMap
  def apply(id: String): Option[ReadGroup] = byId.get(id)
  /** Library for duplicate-marking grouping (MarkDuplicates.scala:99). */
  def libraryOf(readGroupId: Option[String]): Option[String] =
    readGroupId.flatMap(byId.get).flatMap(_.library)
  /** Union law matching SequenceDictionary's: identical read groups dedup
    * (so union is idempotent — self-union of a dataset is legal); the same
    * id with DIFFERENT content is a real conflict and is rejected. */
  def ++(other: ReadGroupDictionary): ReadGroupDictionary = {
    val conflicts = other.readGroups
      .filter(r => byId.get(r.id).exists(_ != r)).map(_.id)
    require(conflicts.isEmpty,
      s"Read group id conflict on union (same id, different content): " +
        conflicts.toSet)
    ReadGroupDictionary(
      readGroups ++ other.readGroups.filterNot(r => byId.contains(r.id)))
  }
  def isEmpty: Boolean = readGroups.isEmpty
}

object ReadGroupDictionary {
  val empty: ReadGroupDictionary = ReadGroupDictionary(Seq.empty)
}

/** Sample (bdg-formats Sample; MultisampleGenomicDataset, GD:3282). */
case class Sample(
    id: String,
    name: Option[String] = None,
    attributes: Map[String, String] = Map.empty)

/** Processing lineage step (SAM @PG provenance;
  * GenomicDatasetWithLineage, GD:3386-3391). */
case class ProcessingStep(
    id: String,
    programName: Option[String] = None,
    commandLine: Option[String] = None,
    previousId: Option[String] = None,
    version: Option[String] = None)

/** VCF-style header line, kept as raw text (VCFSupportingGenomicDataset,
  * GD:3497-3748 — the reference holds htsjdk VCFHeaderLine objects; raw
  * `##key=value` text round-trips without the htsjdk dependency). */
case class HeaderLine(raw: String)

/** The full metadata bundle every GenomicDataset carries. */
case class GenomicMetadata(
    sequences: SequenceDictionary = SequenceDictionary.empty,
    readGroups: ReadGroupDictionary = ReadGroupDictionary.empty,
    samples: Seq[Sample] = Seq.empty,
    processingSteps: Seq[ProcessingStep] = Seq.empty,
    headerLines: Seq[HeaderLine] = Seq.empty) {

  /** Union law used by GenomicDataset.union (GD:490-507): dict merges +
    * header-line dedup. */
  def ++(other: GenomicMetadata): GenomicMetadata = GenomicMetadata(
    sequences ++ other.sequences,
    readGroups ++ other.readGroups,
    (samples ++ other.samples).distinctBy(_.id),
    (processingSteps ++ other.processingSteps).distinctBy(_.id),
    (headerLines ++ other.headerLines).distinct)
}

object GenomicMetadata {
  val empty: GenomicMetadata = GenomicMetadata()
}
