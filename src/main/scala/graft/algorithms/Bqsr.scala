package graft.algorithms

import scala.collection.mutable
import scala.collection.mutable.LongMap
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.model.Alignment
import graft.functions.GenomicFunctions
import graft.operators.Caching

/** Base Quality Score Recalibration (SURVEY.md §2.5; reference
  * ds/read/recalibration/BaseQualityRecalibration.scala:58-120,
  * RecalibrationTable.scala, Recalibrator.scala; covariates
  * CovariateSpace/CycleCovariate/DinucCovariate).
  *
  * Pass 1 (observe): per base, a covariate key (readGroup, reported
  * quality, cycle, dinucleotide) + whether the base mismatches the
  * reference (bases at known-variant sites are masked out). Aggregated to
  * (observations, mismatches) per key; the reference uses
  * `reduceByKeyLocally` and collects to the driver, and so do we, but
  * through a bounded AGGREGATED table (|readGroups| × |quals| × |cycles| ×
  * 16 keys, not per-base data) — the reference's own scaling bottleneck is
  * this broadcast (docs/benchmarks/algorithms.rst:17-23). Pass 1 is one
  * Spark job: each partition's packed counts are merged by a
  * `treeAggregate`, with no shuffle of per-partition rows
  * ([[observationTable]]); [[observationDF]] is the same counts as a
  * groupBy DataFrame.
  *
  * Pass 2 (recalibrate): empirical quality per key via the standard
  * phred-space Bayesian estimate, rewritten into the quality string. It is
  * a narrow column rewrite: only `qualityScores` is recomputed, from five
  * input columns, so the other fields stay in Catalyst's binary rows. The
  * driver resolves the observation table once into per-read-group maps
  * over pass 1's packed covariate key, holding the final quality char, so
  * executors evaluate no per-base `log10` and allocate nothing per base.
  */
object Bqsr {

  /** One observation cell: covariate key -> counts. */
  case class Observation(
      readGroupId: String,
      reportedQuality: Int,
      cycle: Int,
      dinuc: String,
      observations: Long,
      mismatches: Long)

  private implicit val obsEnc: org.apache.spark.sql.Encoder[Observation] =
    Encoders.product[Observation]
  private implicit val alignEnc: org.apache.spark.sql.Encoder[Alignment] =
    Encoders.product[Alignment]

  /** Residue inclusion floor: the reference keeps bases with quality
    * char > '!' (Phred >= 1, BaseQualityRecalibration.scala:222), not its
    * pass-2 minAcceptableAsciiPhred of 5 — the GATK golden table
    * (bqsr1-ref.observed) contains ReportedQ 4 and 5 rows. */
  private val MinQuality = 1

  /** Read-level inclusion (reference shouldIncludeRead,
    * BaseQualityRecalibration.scala:128-134): the canonical read only —
    * mapped primary, not a duplicate, mapQ defined and > 0, CIGAR
    * defined, passed vendor checks. Unset primary/duplicate/vendor flags
    * on synthetic reads default to the canonical state. */
  private[algorithms] def includeRead(r: Alignment): Boolean =
    r.readMapped.getOrElse(false) &&
      r.primaryAlignment.getOrElse(true) &&
      !r.duplicateRead.getOrElse(false) &&
      r.mappingQuality.exists(_ > 0) &&
      !r.failedVendorQualityChecks.getOrElse(false)

  private def complement(c: Char): Char = Character.toUpperCase(c) match {
    case 'A' => 'T'
    case 'C' => 'G'
    case 'G' => 'C'
    case 'T' => 'A'
    case _   => 'N'
  }

  /** Dinucleotide (previous sequenced base, this base) on the SEQUENCED
    * strand (DinucCovariate semantics): a negative-strand read stores the
    * reverse complement of what the sequencer read, so the sequenced-order
    * pair at stored index i is (complement(seq(i+1)), complement(seq(i))).
    * The 5'-most sequenced base (stored index 0 on +, last index on -) has
    * no previous base -> "NN", and a pair containing an 'N' collapses to
    * "NN" too (DinucCovariate.scala:66-74 — GATK CSV compatibility). */
  private[algorithms] def dinucAt(seq: String, i: Int, negativeStrand: Boolean): String =
    dinucString(dinucPair(seq, i, negativeStrand))

  /** [[dinucAt]] without the String: the two chars packed into one Int,
    * first char in the high half. Both kernels key on this form. */
  @inline private def dinucPair(seq: String, i: Int, negativeStrand: Boolean): Int = {
    var d0 = 'N'; var d1 = 'N'
    if (negativeStrand) {
      if (i < seq.length - 1) {
        d0 = complement(seq.charAt(i + 1)); d1 = complement(seq.charAt(i))
      }
    } else if (i > 0) {
      d0 = Character.toUpperCase(seq.charAt(i - 1))
      d1 = Character.toUpperCase(seq.charAt(i))
    }
    if (d0 == 'N' || d1 == 'N') NN else d0 << 16 | d1
  }

  private val NN: Int = 'N' << 16 | 'N'

  private def dinucString(pair: Int): String =
    new String(Array((pair >>> 16).toChar, pair.toChar))

  /** Sequencer cycle of stored index i (CycleCovariate semantics): first-
    * of-fragment reads get positive 1-based cycles counted from the 5'
    * sequenced end, second-of-fragment reads the negated values. */
  private[algorithms] def cycleAt(
      i: Int, len: Int, negativeStrand: Boolean, secondOfFragment: Boolean): Int =
    if (!negativeStrand) { if (secondOfFragment) -(i + 1) else i + 1 }
    else { if (secondOfFragment) -(len - i) else len - i }

  /** Per-base covariates of one read (CycleCovariate.scala /
    * DinucCovariate.scala semantics: cycle counts from the 5' end,
    * dinucleotide is (previous base, base) on the sequenced strand). */
  def observeRead(
      r: Alignment,
      isKnownSite: (String, Long) => Boolean): Iterator[Observation] = {
    val seq = r.sequence.getOrElse("")
    val quals = r.qualityScores.getOrElse("")
    val md = r.mismatchingPositions
    if (!includeRead(r) || seq.isEmpty || quals.isEmpty ||
      md.isEmpty || r.cigar.isEmpty) return Iterator.empty

    // reference-space mismatch offsets from the MD tag
    val mismatchOffsets = GenomicFunctions.mdMismatchOffsets(md.get).toSet
    val refName = r.referenceName.getOrElse("")
    val start = r.start.getOrElse(0L)
    val neg = r.readNegativeStrand.getOrElse(false)
    val second = r.readInFragment.exists(_ != 0)
    val rg = r.readGroupId.getOrElse("")

    walkObserve(seq, quals, mismatchOffsets, r.cigar.get, refName, start,
      neg, second, rg, isKnownSite)
  }

  /** The reference observeRead walk over already-extracted narrow fields —
    * shared by [[observeRead]] and [[observePartition]]'s long-read path so the
    * packed fast path and the long-read path cannot diverge. Callers have
    * already applied [[includeRead]] + non-empty gates. */
  private def walkObserve(
      seq: String, quals: String, mismatchOffsets: Set[Long], cigar: String,
      refName: String, start: Long, neg: Boolean, second: Boolean,
      rg: String, isKnownSite: (String, Long) => Boolean): Iterator[Observation] = {
    // walk CIGAR: map read offset -> reference offset for M/=/X bases.
    // refOff is genomic (advances through N skips, for the known-site
    // mask); mdOff is MD-tag space (M/=/X and D only — the MD tag does
    // NOT count skipped (N) regions, so spliced RNA-seq reads would
    // mis-key mismatches if compared against refOff).
    val out = Iterator.newBuilder[Observation]
    var readPos = 0
    var refOff = 0L
    var mdOff = 0L
    graft.model.Cigar.parse(cigar).foreach { e =>
      e.op match {
        case 'M' | '=' | 'X' =>
          var k = 0
          while (k < e.length) {
            val q = quals.charAt(readPos) - 33
            val refPos = start + refOff
            if (q >= MinQuality && seq.charAt(readPos) != 'N' &&
              !isKnownSite(refName, refPos)) {
              val cycle = cycleAt(readPos, seq.length, neg, second)
              val dinuc = dinucAt(seq, readPos, neg)
              // X is a mismatch by declaration, = a match; only M
              // consults the MD tag (BaseQualityRecalibration.scala:223)
              val mismatch = e.op match {
                case 'X' => true
                case '=' => false
                case _   => mismatchOffsets.contains(mdOff)
              }
              out += Observation(rg, q, cycle, dinuc, 1L,
                if (mismatch) 1L else 0L)
            }
            readPos += 1; refOff += 1; mdOff += 1; k += 1
          }
        case 'I' | 'S' => readPos += e.length
        case 'D' => refOff += e.length; mdOff += e.length
        case 'N' => refOff += e.length
        case _ =>
      }
    }
    out.result()
  }

  /** Narrow kernel input row for [[observePartition]] — the 9 fields the
    * covariate walk actually reads, of [[Alignment]]'s 34 (guide §2.3
    * project-before-opaque-ops / §1.2 per-task work): deserializing the
    * full Alignment costs ~30 Option allocations + a map column per row
    * and defeats column pruning at the scan. */
  // public: the encoder's generated SafeProjection instantiates it
  case class ObsIn(
      seq: String, quals: String, md: String, cigar: String,
      ref: String, start: Long, neg: Boolean, second: Boolean, rg: String)

  private implicit val obsInEnc: org.apache.spark.sql.Encoder[ObsIn] =
    Encoders.product[ObsIn]

  /** Packs (quality, cycle, dinuc chars) into one primitive key:
    * q in bits 0-7, cycle+2^19 in bits 8-27 (reads up to ~512 kb), the two
    * UTF-16 dinuc chars ([[dinucPair]]) in bits 28-59. Only [[packable]]
    * (q, cycle) pairs fit: reads with length >= [[MaxPackedLen]] would
    * overflow the cycle field into the dinuc bits (|cycle| <= len), so
    * [[observePartition]] routes them through [[observeRead]]'s walk, and pass 2
    * looks their out-of-range cycles up by tuple — divergence is
    * impossible, not just loud. */
  @inline private def packKey(q: Int, cycle: Int, dinuc: Int): Long =
    (dinuc & 0xffffffffL) << 28 | (cycle + (1 << 19)).toLong << 8 | q.toLong

  @inline private def packable(q: Int, cycle: Int): Boolean =
    (q & ~0xff) == 0 && cycle > -MaxPackedLen && cycle < MaxPackedLen

  /** Longest read the packed covariate key can hold (~512 kb; ultra-long
    * nanopore reads beyond this take the unpacked [[observeRead]] path). */
  private[algorithms] val MaxPackedLen: Int = 1 << 19

  /** Pass 1's covariate counts: per read group, the [[packable]] cells by
    * [[packKey]], and every other cell (a reported quality above 255, a
    * cycle past [[MaxPackedLen]]) by tuple in `wide`. Each cell is
    * `Array(observations, mismatches)`. A cell lives in exactly one of the
    * two maps, so [[observations]] lists each covariate key once. One
    * instance is one partition's counts, or the merge of several. */
  private final class ObsCounts extends Serializable {
    val packed = new java.util.HashMap[String, LongMap[Array[Long]]]()
    val wide = mutable.HashMap.empty[(String, Int, Int, String), Array[Long]]

    def cells(rg: String): LongMap[Array[Long]] =
      packed.computeIfAbsent(rg, _ => new LongMap[Array[Long]]())

    def add(rg: String, q: Int, cycle: Int, dinuc: String, obs: Long, mm: Long): Unit = {
      val cell =
        if (packable(q, cycle) && dinuc != null && dinuc.length == 2)
          cells(rg).getOrElseUpdate(
            packKey(q, cycle, dinuc.charAt(0) << 16 | dinuc.charAt(1)), new Array[Long](2))
        else wide.getOrElseUpdate((rg, q, cycle, dinuc), new Array[Long](2))
      cell(0) += obs
      cell(1) += mm
    }

    def isEmpty: Boolean = packed.isEmpty && wide.isEmpty

    /** Sums `other`'s cells into this one's (or returns `other` when this
      * one is empty). */
    def merge(other: ObsCounts): ObsCounts =
      if (isEmpty) other
      else {
        other.packed.forEach { (rg, m) =>
          val mine = cells(rg)
          m.foreachEntry { (key, c) =>
            val cell = mine.getOrElseUpdate(key, new Array[Long](2))
            cell(0) += c(0)
            cell(1) += c(1)
          }
        }
        other.wide.foreach { case ((rg, q, cycle, dinuc), c) =>
          add(rg, q, cycle, dinuc, c(0), c(1)) }
        this
      }

    def observations: Iterator[Observation] = {
      import scala.jdk.CollectionConverters._
      packed.entrySet().iterator().asScala.flatMap { rgEntry =>
        rgEntry.getValue.iterator.map { case (key, cell) =>
          val q = (key & 0xffL).toInt
          val cycle = ((key >>> 8) & 0xfffffL).toInt - (1 << 19)
          Observation(rgEntry.getKey, q, cycle,
            dinucString((key >>> 28).toInt), cell(0), cell(1))
        }
      } ++ wide.iterator.map { case ((rg, q, cycle, dinuc), c) =>
        Observation(rg, q, cycle, dinuc, c(0), c(1)) }
    }
  }

  /** The kernel input: the reads pass 1 includes, narrowed to the 9 fields
    * the covariate walk reads. The inclusion gate and the projection are
    * declarative, ahead of the kernel (guide §2.3 / §1.2): the predicates
    * are [[includeRead]] and the non-empty gates verbatim
    * (mappingQuality > 0 is NULL for a NULL quality — exists(_ > 0)
    * semantics), in codegen and prunable at the scan, and the kernel then
    * deserializes 9 narrow fields instead of all 34. */
  private def observedReads(reads: Dataset[Alignment]): Dataset[ObsIn] =
    reads.toDF()
      .filter(
        coalesce(col("readMapped"), lit(false)) &&
          coalesce(col("primaryAlignment"), lit(true)) &&
          !coalesce(col("duplicateRead"), lit(false)) &&
          col("mappingQuality") > 0 &&
          !coalesce(col("failedVendorQualityChecks"), lit(false)) &&
          length(col("sequence")) > 0 && length(col("qualityScores")) > 0 &&
          col("mismatchingPositions").isNotNull && col("cigar").isNotNull)
      .select(
        col("sequence").as("seq"), col("qualityScores").as("quals"),
        col("mismatchingPositions").as("md"), col("cigar"),
        coalesce(col("referenceName"), lit("")).as("ref"),
        coalesce(col("start"), lit(0L)).as("start"),
        coalesce(col("readNegativeStrand"), lit(false)).as("neg"),
        (coalesce(col("readInFragment"), lit(0)) =!= 0).as("second"),
        coalesce(col("readGroupId"), lit("")).as("rg"))
      .as[ObsIn]

  /** Pass 1's kernel over one partition: a PARTITION-LOCAL combine, the
    * same idea as the reference's reduceByKeyLocally pass 1
    * (BaseQualityRecalibration.scala:58-120). The inner loop is
    * allocation-free: one specialized LongMap per read group, keys packed
    * primitives — a per-base tuple-keyed HashMap (measured) spends the
    * whole query re-hashing the readGroup string and boxing. Walk
    * semantics are IDENTICAL to [[observeRead]] (spec asserts agreement). */
  private def observePartition(
      it: Iterator[ObsIn], fn: (String, Long) => Boolean): ObsCounts = {
    val counts = new ObsCounts
    it.foreach { r =>
      val seq = r.seq
      val quals = r.quals
      if (seq.length >= MaxPackedLen) {
        // reads too long for the packed covariate key (ultra-long
        // nanopore) take the reference observeRead walk — identical
        // semantics, no silent key corruption
        walkObserve(seq, quals,
          GenomicFunctions.mdMismatchOffsets(r.md).toSet, r.cigar,
          r.ref, r.start, r.neg, r.second, r.rg, fn).foreach { o =>
          counts.add(o.readGroupId, o.reportedQuality, o.cycle, o.dinuc,
            o.observations, o.mismatches)
        }
      } else {
        // increasing reference-space offsets -> pointer walk, no Set
        val mmOff = GenomicFunctions.mdMismatchOffsets(r.md).toArray
        var mi = 0
        val refName = r.ref
        val start = r.start
        val neg = r.neg
        val second = r.second
        val acc = counts.cells(r.rg)
        val len = seq.length
        var readPos = 0
        var refOff = 0L
        var mdOff = 0L
        graft.model.Cigar.parse(r.cigar).foreach { e =>
          e.op match {
            case 'M' | '=' | 'X' =>
              var k = 0
              while (k < e.length) {
                val q = quals.charAt(readPos) - 33
                if (q >= MinQuality && seq.charAt(readPos) != 'N' &&
                  !fn(refName, start + refOff)) {
                  val cycle = cycleAt(readPos, len, neg, second)
                  val dinuc = dinucPair(seq, readPos, neg)
                  while (mi < mmOff.length && mmOff(mi) < mdOff) mi += 1
                  val mm = e.op match {
                    case 'X' => true
                    case '=' => false
                    case _   => mi < mmOff.length && mmOff(mi) == mdOff
                  }
                  if (packable(q, cycle)) {
                    val cell = acc.getOrElseUpdate(
                      packKey(q, cycle, dinuc), new Array[Long](2))
                    cell(0) += 1L
                    if (mm) cell(1) += 1L
                  } else {
                    // a reported quality above 255 does not fit the key
                    counts.add(r.rg, q, cycle, dinucString(dinuc), 1L,
                      if (mm) 1L else 0L)
                  }
                }
                readPos += 1; refOff += 1; mdOff += 1; k += 1
              }
            case 'I' | 'S' => readPos += e.length
            case 'D' => refOff += e.length; mdOff += e.length
            case 'N' => refOff += e.length
            case _ =>
          }
        }
      }
    }
    counts
  }

  /** Pass 1 as a DataFrame: [[observePartition]]'s per-partition counts,
    * aggregated over the covariate space by a groupBy. This is the
    * driver-gate surface (q49); [[Bqsr.apply]] and [[observationTable]]
    * merge the same per-partition counts without the groupBy. */
  def observationDF(
      reads: Dataset[Alignment],
      isKnownSite: (String, Long) => Boolean): org.apache.spark.sql.DataFrame = {
    val fn = isKnownSite
    observedReads(reads)
      .mapPartitions(it => observePartition(it, fn).observations)
      .groupBy("readGroupId", "reportedQuality", "cycle", "dinuc")
      .agg(sum("observations").as("observations"), sum("mismatches").as("mismatches"))
  }

  /** Pass 1 as one Spark job: each partition's [[observePartition]] counts
    * are merged by `treeAggregate` (depth 2) on the executors, so at most
    * ⌈√P⌉ covariate-space partials reach the driver for P input
    * partitions (P itself when P ≤ 5, where the tree has no inner level).
    * Each partial is bounded by the covariate space, not by the reads. */
  private def observeCounts(
      reads: Dataset[Alignment],
      isKnownSite: (String, Long) => Boolean): ObsCounts = {
    val fn = isKnownSite
    observedReads(reads).rdd
      .mapPartitions(it => Iterator.single(observePartition(it, fn)))
      .treeAggregate(new ObsCounts)(_ merge _, _ merge _)
  }

  /** Pass 1: distributed observation and aggregation in one job; the table
    * (bounded: covariate-space-sized) is assembled on the driver. Equal to
    * [[observationDF]]'s rows. */
  def observationTable(
      reads: Dataset[Alignment],
      isKnownSite: (String, Long) => Boolean): Map[(String, Int, Int, String), (Long, Long)] =
    observeCounts(reads, isKnownSite).observations.map { o =>
      (o.readGroupId, o.reportedQuality, o.cycle, o.dinuc) -> (o.observations, o.mismatches)
    }.toMap

  /** Empirical quality with the standard +1/+2 smoothing
    * (RecalibrationTable semantics). */
  def empiricalQuality(observations: Long, mismatches: Long): Int = {
    val p = (mismatches + 1.0) / (observations + 2.0)
    math.min(50, math.round(-10.0 * math.log10(p)).toInt)
  }

  /** Pass 2's view of an observation table, built once on the driver:
    * per read group, pass 1's packed covariate key ([[packKey]]) -> the
    * output quality char of that cell (its [[empiricalQuality]] floored at
    * 2, +33; 0 is never a cell). Cells whose (q, cycle) is not
    * [[packable]] keep a tuple key in `wide`. Dinucleotides that are not
    * two chars are dropped: pass 2 never forms them. */
  private case class RecalTable(
      packed: Map[String, LongMap[Int]],
      wide: Map[(String, Int, Int, String), Int])

  private object RecalTable {
    def apply(table: Map[(String, Int, Int, String), (Long, Long)]): RecalTable = {
      val counts = new ObsCounts
      table.foreach { case ((rg, q, cycle, dinuc), (obs, mm)) =>
        counts.add(rg, q, cycle, dinuc, obs, mm) }
      apply(counts)
    }

    def apply(counts: ObsCounts): RecalTable = {
      import scala.jdk.CollectionConverters._
      def out(cell: Array[Long]): Int = math.max(2, empiricalQuality(cell(0), cell(1))) + 33
      RecalTable(
        counts.packed.asScala.map { case (rg, cells) => rg -> cells.mapValuesNow(out) }.toMap,
        counts.wide.iterator.collect {
          case (key @ (_, _, _, dinuc), cell) if dinuc != null && dinuc.length == 2 =>
            key -> out(cell)
        }.toMap)
    }
  }

  /** The recalibrated quality string of one mapped read with non-empty
    * sequence and qualities: each base's cell char, or its reported
    * quality floored at 2 when the table has no cell. */
  private def recalibrateQuals(seq: String, quals: String, neg: Boolean,
      second: Boolean, rg: String, t: RecalTable): String = {
    val cells = t.packed.getOrElse(rg, null)
    val out = new Array[Char](quals.length)
    var i = 0
    while (i < out.length) {
      val q = quals.charAt(i) - 33
      val cycle = cycleAt(i, seq.length, neg, second)
      val dinuc = dinucPair(seq, i, neg)
      val c =
        if (packable(q, cycle)) {
          if (cells == null) 0 else cells.getOrNull(packKey(q, cycle, dinuc))
        } else t.wide.getOrElse((rg, q, cycle, dinucString(dinuc)), 0)
      out(i) = if (c != 0) c.toChar else (math.max(2, q) + 33).toChar
      i += 1
    }
    new String(out)
  }

  /** Pass 2: rewrite quality strings via the broadcast table. Bases with no
    * table entry keep their reported quality (floored at 2). Unmapped reads
    * and reads with a missing or empty sequence or quality string are left
    * as they are. Only the `qualityScores` column is rewritten, by a UDF
    * over five columns; the output has [[Alignment]]'s schema. */
  def recalibrate(
      reads: Dataset[Alignment],
      table: Map[(String, Int, Int, String), (Long, Long)]): Dataset[Alignment] =
    recalibrate(reads, RecalTable(table))

  private def recalibrate(reads: Dataset[Alignment], table: RecalTable): Dataset[Alignment] = {
    val tableB = reads.sparkSession.sparkContext.broadcast(table)
    val recalU = udf((seq: String, quals: String, neg: Boolean,
        second: Boolean, rg: String) =>
      recalibrateQuals(seq, quals, neg, second, rg, tableB.value))
    val quals = when(
      coalesce(col("readMapped"), lit(false)) &&
        length(col("sequence")) > 0 && length(col("qualityScores")) > 0,
      recalU(col("sequence"), col("qualityScores"),
        coalesce(col("readNegativeStrand"), lit(false)),
        coalesce(col("readInFragment"), lit(0)) =!= 0,
        coalesce(col("readGroupId"), lit(""))))
      .otherwise(col("qualityScores"))
    // Alignment's column order, types and nullability, as the encoder
    // would write them: a non-nullable input column (a computed flag, say)
    // would otherwise be written as a required parquet field
    reads.toDF().select(alignEnc.schema.fields.toSeq.map { f =>
      val c = (if (f.name == "qualityScores") quals else col(f.name))
        .cast(f.dataType)
      ColumnBridge.column(KnownNullable(ColumnBridge.expression(c))).as(f.name)
    }: _*).as[Alignment]
  }

  /** Compact broadcastable known-sites mask: per-contig SORTED primitive
    * position arrays + binary search — ~8 bytes/site instead of ~64+ for
    * a boxed Set entry. This is the reference's SnpTable design
    * (models/SnpTable.scala:198); its multi-GB broadcast is ADAM's
    * published BQSR scaling bottleneck (docs/benchmarks/
    * algorithms.rst:17-23), so the mask representation matters at 100 TB:
    * 50M dbSNP sites fit in ~400 MB here vs several GB as a Set. */
  case class SnpMask(positions: Map[String, Array[Long]]) {
    def contains(ref: String, pos: Long): Boolean =
      positions.get(ref)
        .exists(a => java.util.Arrays.binarySearch(a, pos) >= 0)
    def siteCount: Long = positions.valuesIterator.map(_.length.toLong).sum
  }

  object SnpMask {
    val empty: SnpMask = SnpMask(Map.empty)

    def apply(sites: Iterable[(String, Long)]): SnpMask =
      SnpMask(sites.groupBy(_._1).map { case (ref, ps) =>
        ref -> ps.map(_._2).toArray.distinct.sorted
      })

    /** Build from a distributed variant table (dbSNP-style): dedup +
      * per-contig sort happen distributed; only the final per-contig
      * primitive arrays land on the driver — the same bounded collect the
      * reference's SnpTable does (`reduceByKeyLocally`).
      *
      * Driver-memory bound: the collect is sized by the DISTINCT known-site
      * count, not the read data. Human dbSNP common variants ≈ 1.1e9 sites
      * upper bound; at (String, Long) row width the compact per-contig long
      * arrays built by `apply` are 8 bytes/site ≈ 9 GB worst-case full
      * dbSNP, and the usual curated mask (HapMap/1000G ≈ 5e7 sites) is
      * ~400 MB — within any reasonable driver. This mirrors the reference's
      * published bottleneck (BASELINE.md #5) with the ~8x array shrink
      * already applied; a per-contig sorted mapPartitions stream would be
      * the next step if masks ever outgrow the driver. */
    def fromVariants(variants: org.apache.spark.sql.DataFrame): SnpMask = {
      import org.apache.spark.sql.functions.col
      val rows = variants.select(
          col("referenceName").cast("string"), col("start").cast("long"))
        .where(col("referenceName").isNotNull && col("start").isNotNull)
        .distinct()
        .collect()
      apply(rows.iterator.map(r => (r.getString(0), r.getLong(1))).toSeq)
    }
  }

  /** Full pipeline: observe (masking known sites) then recalibrate
    * (recalibrateBaseQualities, AlignmentDataset.scala:1089-1163).
    *
    * The input's lineage is cut once, with [[Caching.cutLineage]], before
    * pass 1: pass 1, pass 2 and every later action on the returned
    * Dataset (a sort's range sampling, a parquet or BAM write) read that
    * one materialization instead of re-running the upstream plan (a BAM
    * decode and markdup's shuffles, say) per action. The blocks are local
    * MEMORY_AND_DISK checkpoint blocks, or a reliable checkpoint when the
    * deployment sets `spark.graft.checkpoint.reliable` (clusters, where a
    * lost executor cannot recompute a local block). They belong to the
    * returned result's RDD lineage, not to a cache-manager entry, so the
    * ContextCleaner frees them once that result is unreferenced (tier 1 in
    * [[Caching]]'s convention); a caller's own persisted input is left as
    * it is.
    *
    * Pass 1 is one job over the cut, and its merged packed counts go to
    * pass 2's table directly, without the tuple-keyed map
    * [[observationTable]] returns. */
  def apply(
      reads: Dataset[Alignment],
      mask: SnpMask): Dataset[Alignment] = {
    val spark = reads.sparkSession
    val maskB = spark.sparkContext.broadcast(mask)
    val isKnown = (ref: String, pos: Long) => maskB.value.contains(ref, pos)
    val cut = Caching.cutLineage(reads.toDF()).as[Alignment]
    recalibrate(cut, RecalTable(observeCounts(cut, isKnown)))
  }

  /** Set-based convenience overload (tests, small masks). */
  def apply(
      reads: Dataset[Alignment],
      knownSites: Set[(String, Long)]): Dataset[Alignment] =
    apply(reads, SnpMask(knownSites))
}
