package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{Alignment, Cigar, Fragment, ReadGroupDictionary}

/** Fragment-level duplicate-marking key (ReferencePositionPair semantics,
  * ds/read/ReferencePositionPair.scala:115): library + clipped 5' positions
  * and strands of both fragment ends, plus the phred score and read bucket. */
private[operators] case class DupKey(
    library: String,
    leftRef: String, leftPos: Long, leftStrand: Boolean,
    rightRef: String, rightPos: Long, rightStrand: Boolean,
    score: Int, name: String, reads: Seq[Alignment])

/** DupKey + window verdict (fragment fast path re-typing). */
private[operators] case class FlaggedDupKey(
    library: String,
    leftRef: String, leftPos: Long, leftStrand: Boolean,
    rightRef: String, rightPos: Long, rightStrand: Boolean,
    score: Int, name: String, reads: Seq[Alignment],
    rank: Int, isDup: Boolean)

/** Shared fragment-bucket → duplicate-key logic
  * (ReferencePositionPair + score, MarkDuplicates.scala:42-48, 99-161). */
private[operators] object DupKeying {

  def phredScore(r: Alignment): Int =
    r.qualityScores.map(_.iterator.map(_ - 33).filter(_ >= 15).sum).getOrElse(0)

  def fivePrime(r: Alignment): (String, Long, Boolean) = {
    val neg = r.readNegativeStrand.getOrElse(false)
    val pos = Cigar.fivePrimePosition(
      r.start.getOrElse(0L), r.end.getOrElse(0L),
      r.cigar.getOrElse("*"), neg)
    (r.referenceName.getOrElse(""), pos, neg)
  }

  /** Two-stage duplicate verdict over a DupKey frame (reference
    * MarkDuplicates.scala:99-161): stage 1 groups by (library, left 5'
    * position); if any paired fragment (right end mapped) is present, every
    * unpaired fragment in the group is a duplicate. Stage 2 ranks fragments
    * within the full (left, right) key by (score desc, name); rank 1
    * survives. Left-unmapped fragments are never marked. Both windows
    * partition by (or by a superset of) the left-position key, so Catalyst
    * plans ONE exchange for the pair. */
  def flagDuplicates(keyed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wLeft = Window.partitionBy("library", "leftRef", "leftPos", "leftStrand")
    val wFull = Window
      .partitionBy("library", "leftRef", "leftPos", "leftStrand",
        "rightRef", "rightPos", "rightStrand")
      .orderBy(col("score").desc, col("name").asc)
    keyed
      .withColumn("hasPairedAtLeft",
        max(when(col("rightPos") =!= -1L, 1).otherwise(0)).over(wLeft) === 1)
      .withColumn("rank", row_number().over(wFull))
      .withColumn("isDup",
        when(col("leftPos") === -1L, lit(false))
          .when(col("rightPos") === -1L && col("hasPairedAtLeft"), lit(true))
          .otherwise(col("rank") > 1))
  }

  def keyOf(rgId: String, name: String, bucket: Seq[Alignment],
      libOf: Map[String, String]): DupKey = {
    val primaries = bucket.filter(r =>
      r.primaryAlignment.getOrElse(true) && !r.secondaryAlignment.getOrElse(false) &&
        !r.supplementaryAlignment.getOrElse(false))
    val mapped = primaries.filter(_.readMapped.getOrElse(false))
      .sortBy(_.readInFragment.getOrElse(0))
    val lib = libOf.getOrElse(rgId, rgId)
    val score = primaries.map(phredScore).sum
    mapped.map(fivePrime) match {
      case Seq() =>
        DupKey(lib, "", -1L, false, "", -1L, false, score, name, bucket)
      case Seq(l) =>
        DupKey(lib, l._1, l._2, l._3, "", -1L, false, score, name, bucket)
      case ls =>
        // order ends by (ref, pos, strand) — ReferencePosition ordering
        // includes orientation, so mate-swapped duplicate fragments land
        // on the same key
        val sorted = ls.sortBy(t => (t._1, t._2, t._3))
        DupKey(lib, sorted.head._1, sorted.head._2, sorted.head._3,
          sorted.last._1, sorted.last._2, sorted.last._3, score, name, bucket)
    }
  }
}

/** Read-pipeline operators over Dataset[Alignment] (SURVEY.md §2.5, §2.8).
  * All formulated as declarative plans: flagstat is one single-pass
  * conditional aggregation; duplicate marking is two hash shuffles + a
  * window (no driver collect); conversions are groupBy/explode.
  */
object AlignmentOps {

  import org.apache.spark.sql.Encoders

  private implicit val alignmentEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]
  private implicit val fragmentEnc: org.apache.spark.sql.Encoder[Fragment] =
    Encoders.product[Fragment]
  private implicit val stringEnc: org.apache.spark.sql.Encoder[String] =
    Encoders.STRING

  // ------------------------------ flagstat --------------------------------

  /** `samtools flagstat` analog: 13 metrics split by vendor-quality in ONE
    * pass (reference FlagStat.scala:95-130 uses an RDD aggregate; here a
    * single codegen'd conditional aggregation — partial agg map-side). */
  def flagStat(reads: Dataset[Alignment]): DataFrame = {
    val df = reads.toDF()
    def cnt(pred: Column, name: String): Column =
      sum(when(pred, 1L).otherwise(0L)).as(name)
    val mapped = col("readMapped") === true
    val paired = col("readPaired") === true
    df.groupBy(coalesce(col("failedVendorQualityChecks"), lit(false))
        .as("vendorFailed"))
      .agg(
        count(lit(1)).as("total"),
        cnt(col("duplicateRead") === true, "duplicates"),
        cnt(mapped, "mapped"),
        cnt(paired, "paired"),
        cnt(paired && col("readInFragment") === 0, "read1"),
        cnt(paired && col("readInFragment") === 1, "read2"),
        cnt(paired && col("properPair") === true, "properlyPaired"),
        cnt(paired && mapped && col("mateMapped") === true, "withMateMapped"),
        cnt(paired && mapped && !(col("mateMapped") === true), "singletons"),
        cnt(paired && mapped && col("mateMapped") === true &&
          !(col("mateReferenceName") <=> col("referenceName")),
          "mateMappedToDiffChromosome"),
        cnt(paired && mapped && col("mateMapped") === true &&
          !(col("mateReferenceName") <=> col("referenceName")) &&
          col("mappingQuality") >= 5, "mateMappedToDiffChromosomeMapQ5"),
        cnt(col("secondaryAlignment") === true, "secondary"),
        cnt(col("supplementaryAlignment") === true, "supplementary"))
  }

  // ------------------------------ k-mers ----------------------------------

  /** Slide k-windows over read sequences and count
    * (countKmersAsDataset, AlignmentDataset.scala:784-795). */
  def countKmers(reads: Dataset[Alignment], k: Int): DataFrame =
    reads.toDF()
      .filter(col("sequence").isNotNull)
      .select(explode(graft.functions.GenomicFunctions.kmers("sequence", k))
        .as("kmer"))
      .filter(length(col("kmer")) === k)
      .groupBy("kmer").agg(count(lit(1)).as("count"))

  // ----------------------------- coverage ---------------------------------

  /** Mapped reads → per-base depth (AlignmentDataset.toCoverage,
    * AlignmentDataset.scala:529-556 — already a DataFrame op there). */
  def toCoverage(reads: Dataset[Alignment]): DataFrame =
    CoverageOps.toCoverage(
      reads.toDF()
        .filter(col("readMapped") === true && col("start").isNotNull &&
          col("end").isNotNull)
        .select(col("referenceName"), col("start"), col("end")))

  // --------------------------- fragment regroup ---------------------------

  /** Group reads by fragment name (toFragments, AlignmentDataset.scala:
    * 473-522): one shuffle on readName. The reference's queryname-sorted
    * fast path (AD:517-522) is unnecessary under AQE+hash agg but the
    * grouping key matches. */
  def toFragments(reads: Dataset[Alignment]): Dataset[Fragment] =
    reads.groupByKey(r => r.readName.getOrElse(""))
      .mapGroups { (name, rs) =>
        val reads = rs.toSeq.sortBy(_.readInFragment.getOrElse(0))
        Fragment(
          name = Some(name),
          readGroupId = reads.head.readGroupId,
          insertSize = reads.flatMap(_.insertSize).headOption,
          alignments = reads)
      }

  /** Inverse: fragments → alignments (FragmentDataset.scala:351). */
  def fragmentsToReads(fragments: Dataset[Fragment]): Dataset[Alignment] =
    fragments.flatMap(_.alignments)

  // --------------------------- mark duplicates ----------------------------

  /** Duplicate marking (MarkDuplicates.scala:62-169 semantics, window
    * formulation — SURVEY.md §2.5 mapping):
    *
    *  1. reads → fragment buckets keyed (readGroupId, readName)
    *     [shuffle 1: hash on read name];
    *  2. per bucket: left/right 5'-clipped positions of the primary mapped
    *     reads (ReferencePositionPair semantics) + fragment score = sum of
    *     phred scores >= 15 over primary reads (score fn,
    *     MarkDuplicates.scala:42-48);
    *  3. two-stage marking on the (library, left 5' position) group
    *     (MarkDuplicates.scala:99-161 semantics): if ANY paired fragment
    *     (both ends mapped) shares the left position, every unpaired
    *     fragment there is a duplicate; paired fragments rank by
    *     (score desc, name) within the full (left, right) key and
    *     unpaired-only groups rank among themselves — rank 1 survives
    *     [shuffle 2: hash on the left-position key, both windows share it];
    *  4. explode buckets back to reads with duplicateRead set. Fragments
    *     whose left position is unmapped are never marked (MarkDuplicates
    *     rule).
    *
    * No driver collect; both shuffles are on well-distributed keys.
    */
  def markDuplicates(
      reads: Dataset[Alignment],
      readGroups: ReadGroupDictionary = ReadGroupDictionary.empty): Dataset[Alignment] = {
    val spark = reads.sparkSession
    val libOf: Map[String, String] = readGroups.readGroups
      .flatMap(rg => rg.library.map(l => rg.id -> l)).toMap
    val libOfB = spark.sparkContext.broadcast(libOf)

    // Declarative formulation of DupKeying.keyOf: the fragment regroup
    // aggregates NARROW projected fields with native collect_list — the
    // full records are shuffled exactly once (the verdict join), never
    // through the window, and no Alignment objects materialize. Semantics
    // are pinned to the typed keyOf by the fragment-path agreement spec
    // and the q40 oracle.
    // while-loop body: an iterator chain would allocate an iterator and
    // two closures per row for the same values
    val scoreU = udf((q: String) => {
      var s = 0; var i = 0
      while (i < q.length) {
        val v = q.charAt(i) - 33
        if (v >= 15) s += v
        i += 1
      }
      s
    })
    val fpU = udf((start: Long, end: Long, cigar: String, neg: Boolean) =>
      Cigar.fivePrimePosition(start, end, cigar, neg))
    val libU = udf((rg: String) => libOfB.value.getOrElse(rg, rg))

    val df = reads.toDF()
    // scratch names absent from the caller's frame: the verdict join and
    // the final drop must not meet a caller column of the same name
    val Seq(rgC, nameC, scoreSumC, endsC, isDupC) =
      ScratchColumns.fresh(df, "__rg", "__name", "__scoreSum", "ends", "isDup")
    val isPrimary = coalesce(col("primaryAlignment"), lit(true)) &&
      !coalesce(col("secondaryAlignment"), lit(false)) &&
      !coalesce(col("supplementaryAlignment"), lit(false))
    val isMapped = coalesce(col("readMapped"), lit(false))

    val keyed = df
      .groupBy(
        coalesce(col("readGroupId"), lit("")).as(rgC),
        coalesce(col("readName"), lit("")).as(nameC))
      .agg(
        sum(when(isPrimary, scoreU(coalesce(col("qualityScores"), lit("")))))
          .as(scoreSumC),
        // ends sorted by (ref, pos, strand) = keyOf's ReferencePosition order
        sort_array(collect_list(when(isPrimary && isMapped,
          struct(
            coalesce(col("referenceName"), lit("")).as("r"),
            fpU(coalesce(col("start"), lit(0L)), coalesce(col("end"), lit(0L)),
              coalesce(col("cigar"), lit("*")),
              coalesce(col("readNegativeStrand"), lit(false))).as("p"),
            coalesce(col("readNegativeStrand"), lit(false)).as("n")))))
          .as(endsC))
      .select(
        col(rgC), col(nameC),
        libU(col(rgC)).as("library"),
        when(size(col(endsC)) === 0, lit("")).otherwise(col(endsC)(0)("r")).as("leftRef"),
        when(size(col(endsC)) === 0, lit(-1L)).otherwise(col(endsC)(0)("p")).as("leftPos"),
        when(size(col(endsC)) === 0, lit(false)).otherwise(col(endsC)(0)("n")).as("leftStrand"),
        when(size(col(endsC)) <= 1, lit("")).otherwise(element_at(col(endsC), -1)("r")).as("rightRef"),
        when(size(col(endsC)) <= 1, lit(-1L)).otherwise(element_at(col(endsC), -1)("p")).as("rightPos"),
        when(size(col(endsC)) <= 1, lit(false)).otherwise(element_at(col(endsC), -1)("n")).as("rightStrand"),
        coalesce(col(scoreSumC), lit(0)).cast("int").as("score"),
        col(nameC).as("name"))

    val verdict = DupKeying.flagDuplicates(keyed)
      .select(col(rgC), col(nameC), col("isDup").as(isDupC))

    // shuffle-hash: (rg, name) keys are uniform and the verdict side is
    // narrow — avoids sorting the full-record side in a sort-merge join
    df.join(verdict.hint("shuffle_hash"),
        coalesce(df("readGroupId"), lit("")) === verdict(rgC) &&
          coalesce(df("readName"), lit("")) === verdict(nameC))
      .withColumn("duplicateRead",
        // secondary/supplementary reads inherit the fragment's duplicate flag
        when(col("readMapped") === true || col("readPaired") === true,
          col(isDupC)).otherwise(lit(false)))
      .drop(rgC, nameC, isDupC)
      .as[Alignment]
  }

  /** Fragment-grouped duplicate marking — the reference's fast path that
    * eliminates the read-regroup shuffle entirely (FragmentDataset
    * .markDuplicates, FragmentDataset.scala:369; the optimization called
    * out in docs/benchmarks/algorithms.rst:46-52): reads are already
    * bucketed per fragment, so the position key is a per-row map and only
    * the window shuffle remains. */
  def markDuplicateFragments(
      fragments: Dataset[Fragment],
      readGroups: ReadGroupDictionary = ReadGroupDictionary.empty): Dataset[Fragment] = {
    val spark = fragments.sparkSession
    val libOf: Map[String, String] = readGroups.readGroups
      .flatMap(rg => rg.library.map(l => rg.id -> l)).toMap
    val libOfB = spark.sparkContext.broadcast(libOf)
    implicit val keyedEnc: org.apache.spark.sql.Encoder[DupKey] =
      org.apache.spark.sql.Encoders.product[DupKey]
    implicit val flaggedEnc: org.apache.spark.sql.Encoder[FlaggedDupKey] =
      org.apache.spark.sql.Encoders.product[FlaggedDupKey]

    // per-row keying: the regroup shuffle is gone, only the window remains
    val keyed = fragments.map { f =>
      DupKeying.keyOf(
        f.readGroupId.getOrElse(""), f.name.getOrElse(""),
        f.alignments, libOfB.value)
    }

    DupKeying.flagDuplicates(keyed.toDF())
      .drop("hasPairedAtLeft")
      .as[FlaggedDupKey]
      .map { fk =>
        Fragment(
          name = Some(fk.name),
          readGroupId = fk.reads.headOption.flatMap(_.readGroupId),
          insertSize = fk.reads.flatMap(_.insertSize).headOption,
          alignments = fk.reads.map(r => r.copy(duplicateRead = Some(
            fk.isDup && (r.readMapped.getOrElse(false) || r.readPaired.getOrElse(false))))))
      }
  }

  /** Sort by read name then fragment index (sortByReadName, AD:999). */
  def sortByReadName(reads: Dataset[Alignment]): Dataset[Alignment] =
    reads.orderBy(col("readName"), col("readInFragment"))

  /** Left-normalize indels in read CIGARs (AD:1777-1804;
    * NormalizationUtils.scala:156) — per-row map, no shuffle. */
  def leftNormalizeIndels(reads: Dataset[Alignment]): Dataset[Alignment] =
    reads.map { r =>
      (r.sequence, r.cigar) match {
        case (Some(seq), Some(c)) =>
          val n = graft.functions.GenomicFunctions.leftNormalizeCigar(seq, c)
          if (n == c) r else r.copy(cigar = Some(n), originalCigar = r.cigar)
        case _ => r
      }
    }

  /** Re-pair mates split across the dataset: join read1/read2 by name and
    * restore mate fields (reassembleReadPairs, AD:1668-1708). */
  def reassembleReadPairs(reads: Dataset[Alignment]): Dataset[Alignment] =
    reads.groupByKey(r => r.readName.getOrElse(""))
      .flatMapGroups { (_, rs: Iterator[Alignment]) =>
        val bucket = rs.toSeq
        val firsts = bucket.filter(_.readInFragment.contains(0))
        val seconds = bucket.filter(_.readInFragment.contains(1))
        (firsts.map(r => seconds.headOption.fold(r)(m => r.copy(
          readPaired = Some(true),
          mateReferenceName = m.referenceName,
          mateAlignmentStart = m.start,
          mateMapped = m.readMapped,
          mateNegativeStrand = m.readNegativeStrand))) ++
          seconds.map(r => firsts.headOption.fold(r)(m => r.copy(
            readPaired = Some(true),
            mateReferenceName = m.referenceName,
            mateAlignmentStart = m.start,
            mateMapped = m.readMapped,
            mateNegativeStrand = m.readNegativeStrand))) ++
          bucket.filterNot(r => r.readInFragment.contains(0) ||
            r.readInFragment.contains(1))).iterator
      }

  // --------------------------- quality binning ----------------------------

  /** Rewrite quality strings into bins (binQualityScores, AD:1752-1776;
    * BinQualities.scala:112-160). bins = (low, high, center). */
  def binQualities(reads: Dataset[Alignment], bins: Seq[(Int, Int, Int)]): Dataset[Alignment] = {
    val b = bins
    reads.map(r => r.copy(qualityScores =
      r.qualityScores.map(q =>
        graft.functions.GenomicFunctions.binQualities(q, b))))
  }
}
