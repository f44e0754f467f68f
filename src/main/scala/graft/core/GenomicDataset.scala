package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExecutionBridge
import graft.model._
import graft.operators.RegionJoins

/** The engine's one fundamental abstraction: a Catalyst-backed Dataset of a
  * genomic record type plus driver-side metadata (SURVEY.md §1.1).
  *
  * Collapses the reference's RDDBound/DatasetBound/ParquetUnbound triad
  * (GenomicDataset.scala:130, AlignmentDataset.scala:226-455) to a single
  * Dataset[T]-backed class: laziness, pushdown, pruning and codegen all come
  * from Catalyst, so the three physical states are unnecessary.
  *
  * Region-aware operations require the dataset's columns to include
  * `referenceName: string, start: long, end: long` (the coordinate contract,
  * GenomicDataset.getReferenceRegions GD:1018). Types whose coordinates are
  * nested (Fragment, Genotype.variant) expose a flattened view first.
  *
  * Sinks share one execution. Every sink ([[saveAsParquet]],
  * [[saveAsPartitionedParquet]], the BAM/SAM/CRAM writers in
  * `graft.sources`) reads [[executed]], the rows of `ds`'s own physical
  * plan, instead of planning `ds` again. Each action on a Dataset plans and
  * runs its own query, so two sinks of one sorted dataset would sort it
  * twice; over [[executed]], the second sink's job skips the stages whose
  * shuffle output the first one wrote. No rows are cached and no
  * cache-manager entry is made: the shuffle files live as long as this
  * dataset's plan is referenced, the normal RDD lifetime, and the
  * ContextCleaner removes them after that.
  */
case class GenomicDataset[T](ds: Dataset[T], meta: GenomicMetadata,
    sorted: Boolean = false)(implicit enc: Encoder[T]) {

  def spark: SparkSession = ds.sparkSession
  def toDF: DataFrame = ds.toDF()

  /** `ds`'s rows as its one physical plan produces them (Catalyst rows in
    * `ds.queryExecution.analyzed`'s column order). Held by `ds`'s
    * QueryExecution, so every sink of this dataset, and of copies sharing
    * `ds`, reads the same RDD. */
  private[graft] lazy val executed: RDD[InternalRow] = ds.queryExecution.toRdd

  /** [[executed]] deserialized with `ds`'s encoder on the executors: one new
    * record object per row, safe to collect (the Catalyst row buffers
    * behind [[executed]] may be reused row to row). */
  private[graft] def records: RDD[T] = {
    val bound = encoderFor(ds.encoder).resolveAndBind(ds.queryExecution.analyzed.output)
    executed.mapPartitions { rows =>
      val fromRow = bound.createDeserializer()
      rows.map(fromRow)
    }(bound.clsTag)
  }

  /** A DataFrame over [[executed]] with `ds`'s analyzed schema, nullability
    * included. */
  private def executedDF: DataFrame =
    ExecutionBridge.dataFrame(spark, executed, ds.queryExecution.analyzed.schema)

  /** User-function transform re-attaching metadata — the key invariant:
    * metadata flows around the Catalyst plan, not through it
    * (transformDataset, GD:509-531). Conservatively clears the sortedness
    * flag (an arbitrary fn may reorder); row-filtering callers that
    * preserve order use [[transformKeepingSort]]. */
  def transform(fn: Dataset[T] => Dataset[T]): GenomicDataset[T] =
    copy(ds = fn(ds), sorted = false)

  /** Order-preserving transform (filters, column rewrites): keeps the
    * sortedness contract (isSorted, GD:568). */
  def transformKeepingSort(fn: Dataset[T] => Dataset[T]): GenomicDataset[T] =
    copy(ds = fn(ds))

  def transformMeta(fn: GenomicMetadata => GenomicMetadata): GenomicDataset[T] =
    copy(meta = fn(meta))

  /** Retype to another record shape (transmute, GD:532-566). */
  def transmute[U](fn: Dataset[T] => Dataset[U])(implicit e: Encoder[U]): GenomicDataset[U] =
    GenomicDataset(fn(ds), meta)

  /** Pipe records through an external command per partition (reference
    * GenomicDataset.pipe GD:786-917); formatter pairs live in
    * [[graft.operators.Pipe]] (SAM/BED/GFF3/FASTA/FASTQ/VCF/text +
    * tab5/tab6/interleaved-FASTQ). */
  def pipe[U](
      command: Seq[String],
      inFormatter: graft.operators.Pipe.InFormatter[T],
      outFormatter: graft.operators.Pipe.OutFormatter[U],
      environment: Map[String, String] = Map.empty)(
      implicit e: Encoder[U]): GenomicDataset[U] =
    GenomicDataset(
      graft.operators.Pipe.pipe(ds, command, inFormatter, outFormatter,
        environment),
      meta)

  // ------------------------- region filters ------------------------------

  /** Region filter as a pushed-down column predicate
    * (filterByOverlappingRegion, GD:1034-1081; pushdown semantics of
    * ReferenceRegion.createPredicate, models/ReferenceRegion.scala:392). */
  def filterByOverlappingRegion(r: ReferenceRegion): GenomicDataset[T] =
    transformKeepingSort(_.filter(RegionColumns.overlapsRegion(r)))

  def filterByOverlappingRegions(rs: Seq[ReferenceRegion]): GenomicDataset[T] =
    transformKeepingSort(_.filter(RegionColumns.overlapsAny(rs)))

  // ----------------------------- sort ------------------------------------

  /** Lexicographic genome sort: range-repartition on (referenceName, start)
    * then sort within partitions (sortLexicographically, GD:697-753). The
    * range partitioner's sampled bounds replace the reference's driver-
    * collected partition map (GD:744-747) — no driver collect. */
  def sortLexicographically(numPartitions: Int = 0): GenomicDataset[T] =
    if (sorted && numPartitions == 0) this // isSorted fast path (GD:568)
    else transform { d =>
      val cols = Seq(col("referenceName"), col("start"))
      val ranged =
        if (numPartitions > 0) d.repartitionByRange(numPartitions, cols: _*)
        else d.repartitionByRange(cols: _*)
      ranged.sortWithinPartitions(cols: _*)
    }.copy(sorted = true)

  /** Sort by the SequenceDictionary's contig index then position
    * (sortByReferencePositionAndIndex semantics, AlignmentDataset.scala:
    * 1043): contig→index via a broadcast scalar map expression. */
  def sortByDictionaryOrder(numPartitions: Int = 0): GenomicDataset[T] =
    transform { d =>
      val indexed = meta.sequences.records.zipWithIndex
        .flatMap { case (r, i) => Seq(lit(r.name), lit(r.index.getOrElse(i))) }
      if (indexed.isEmpty) d
      else {
        val idx = coalesce(
          element_at(map(indexed: _*), col("referenceName")), lit(Int.MaxValue))
        val tagged = d.withColumn("__refIdx", idx)
        val cols = Seq(col("__refIdx"), col("start"))
        val ranged =
          if (numPartitions > 0) tagged.repartitionByRange(numPartitions, cols: _*)
          else tagged.repartitionByRange(cols: _*)
        ranged.sortWithinPartitions(cols: _*).drop("__refIdx").as[T]
      }
    }

  // ----------------------------- set ops ---------------------------------

  /** Concatenation + metadata union (GD:490-507 union laws). */
  def union(others: GenomicDataset[T]*): GenomicDataset[T] =
    GenomicDataset(
      others.foldLeft(ds)((a, b) => a.unionByName(b.ds)),
      others.foldLeft(meta)((a, b) => a ++ b.meta))

  // ----------------------------- joins -----------------------------------

  /** Interval-overlap joins against another genomic dataset; all eight
    * reference variants via joinType/grouping (SURVEY.md §2.4). Returns the
    * flat pair DataFrame (l_- and r_-prefixed columns) with metadata —
    * the analog of GenericGenomicDataset (GD:3095). */
  def shuffleRegionJoin(
      other: GenomicDataset[_],
      joinType: String = "inner",
      flank: Long = 0L,
      binSize: Long = RegionJoins.DefaultBinSize): (DataFrame, GenomicMetadata) =
    (RegionJoins.overlapJoin(toDF, other.ds.toDF(), joinType, binSize, flank),
      meta ++ other.meta)

  /** Broadcast variant: identical plan shape with a broadcast hint on the
    * right — Catalyst picks BroadcastHashJoin (broadcastRegionJoin,
    * GD:1108-1227). */
  def broadcastRegionJoin(
      other: GenomicDataset[_],
      joinType: String = "inner",
      flank: Long = 0L,
      binSize: Long = RegionJoins.DefaultBinSize): (DataFrame, GenomicMetadata) =
    (RegionJoins.overlapJoin(toDF, broadcast(other.ds.toDF()), joinType, binSize, flank),
      meta ++ other.meta)

  /** Prepare this dataset as a reusable broadcast join side — the
    * reference's `broadcast()` → GenomicBroadcast (GD:1108): persist once,
    * then run many [[broadcastRegionJoinAgainst]] calls without
    * recomputing or re-shuffling this side. */
  def prepareBroadcast(): RegionJoins.RegionBroadcast =
    RegionJoins.prepareBroadcast(toDF)

  /** Join against a previously prepared broadcast side (the reference's
    * `*Against` family, GD:1173-1797). */
  def broadcastRegionJoinAgainst(
      bc: RegionJoins.RegionBroadcast,
      joinType: String = "inner",
      flank: Long = 0L,
      binSize: Long = RegionJoins.DefaultBinSize): DataFrame =
    RegionJoins.joinAgainst(toDF, bc, joinType, binSize, flank)

  // ----------------------------- save ------------------------------------

  /** Parquet save + metadata sidecars (GD:324-353, 3775-3830). The
    * sortedness contract persists with the data (the reference's
    * `_partitionMap.avro` role, GD:3832-3877): a sorted save reloads as
    * sorted, so downstream sorts are elided.
    *
    * Default codec is GZIP — the reference's own saveAsParquet default
    * (ADAMContext CompressionCodecName.GZIP), and the setting behind its
    * published "Parquet 20 % smaller than BAM" claim. Measured on the
    * real NA12878+bqsr1 reads (SCALE.md, storage parity): gzip 0.70x BAM
    * vs Spark's snappy default at 1.16x BAM — at 100 TB the write-side CPU
    * is well spent. Round-15 throughput audit (SCALE.md "Parquet codec
    * decision"): gzip stays the default (smaller than zstd on the
    * non-replicated 1x real corpus, and like-for-like with the
    * reference's published parity row); zstd is the measured opt-in for
    * codec-bound ingest (2.2x write / 3.2x read throughput vs gzip).
    * Pass "snappy"/"zstd" to override. Writes [[executed]]. */
  def saveAsParquet(path: String, codec: String = "gzip"): Unit = {
    executedDF.write.mode("overwrite").option("compression", codec).parquet(path)
    Sidecars.write(spark, path, meta)
    if (sorted) Sidecars.writeSortedFlag(spark, path)
  }

  /** Hive-partitioned layout (referenceName, positionBin) — same layout as
    * the reference (GD:380-394) with two write-side fixes that matter at
    * 100 TB:
    *  - repartition on the partition columns BEFORE partitionBy: without
    *    it every task writes a part-file into every hive partition it
    *    touches (tasks × bins small files — millions at cluster scale);
    *    with it each (referenceName, positionBin) is owned by one task and
    *    writes one consolidated file. A pathologically hot bin is bounded
    *    by binSize of genome; lower binSize if one bin's rows exceed a
    *    task.
    *  - sortWithinPartitions on start: parquet row-group min/max stats
    *    become tight, so start-range scans prune row groups inside each
    *    bin file, not just whole partitions.
    * Reads [[executed]]. */
  def saveAsPartitionedParquet(path: String, binSize: Long = 1000000L,
      codec: String = "gzip"): Unit = {
    executedDF
      .withColumn("positionBin", floor(col("start") / binSize))
      .repartition(col("referenceName"), col("positionBin"))
      .sortWithinPartitions(col("referenceName"), col("positionBin"), col("start"))
      .write.mode("overwrite").option("compression", codec)
      .partitionBy("referenceName", "positionBin")
      .parquet(path)
    Sidecars.write(spark, path, meta)
    Sidecars.writePartitionFlag(spark, path, binSize)
  }
}

object GenomicDataset {

  /** Backfill top-level columns the encoder expects but the file lacks
    * with typed NULLs — schema evolution guard: parquet written before a
    * record type gained an optional field (e.g. Genotype.likelihoodsPhred,
    * round 15) stays loadable instead of failing `.as[T]` resolution. */
  private def backfillMissing(df: DataFrame,
      target: org.apache.spark.sql.types.StructType): DataFrame = {
    val present = df.columns.toSet
    target.fields.filterNot(f => present.contains(f.name)).foldLeft(df) {
      (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType))
    }
  }

  /** Generic parquet load with sidecar metadata restore (loadParquet,
    * ADAMContext.scala:1814-1857 — pushdown/projection free via Catalyst). */
  def loadParquet[T](spark: SparkSession, path: String)(implicit e: Encoder[T]): GenomicDataset[T] = {
    val meta = Sidecars.read(spark, path)
    GenomicDataset(
      backfillMissing(spark.read.parquet(path), e.schema).as[T], meta,
      sorted = Sidecars.readSortedFlag(spark, path))
  }

  /** Load of a partitioned layout, optionally pruned to query regions: the
    * binned predicate is applied while `positionBin` is still a column, so
    * Catalyst prunes partitions natively (GD:3355-3383 rewrite, as a Column
    * instead of a SQL string). */
  def loadPartitionedParquet[T](
      spark: SparkSession, path: String,
      regions: Seq[ReferenceRegion] = Seq.empty,
      lookback: Int = 1)(implicit e: Encoder[T]): GenomicDataset[T] = {
    val meta = Sidecars.read(spark, path)
    val binSize = Sidecars.readPartitionFlag(spark, path).getOrElse(1000000L)
    val df = spark.read.parquet(path)
    val pruned =
      if (regions.isEmpty) df
      else df.filter(regions.map(binnedRegionFilter(_, binSize, lookback))
        .reduceLeft(_ || _))
    GenomicDataset(
      backfillMissing(pruned.drop("positionBin"), e.schema).as[T], meta)
  }

  /** Partition-pruning region predicate for the partitioned layout: bin
    * range with `lookback` slack for records longer than a bin (the domain
    * knowledge Catalyst can't infer; optLookbackPartitions, GD:3337-3341). */
  def binnedRegionFilter(r: ReferenceRegion, binSize: Long, lookback: Int = 1): Column =
    col("referenceName") === lit(r.referenceName) &&
      col("positionBin") >= lit(r.start / binSize - lookback) &&
      col("positionBin") <= lit((math.max(r.start, r.end - 1)) / binSize) &&
      col("start") < lit(r.end) && col("end") > lit(r.start)
}
