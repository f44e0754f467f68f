package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ExecutionBridge
import graft.model._

/** Metadata sidecar persistence (SURVEY.md §1.3). The reference writes
  * `_references.avro` / `_readGroups.avro` / `_samples.avro` /
  * `_processingSteps.avro` next to the parquet payload
  * (GenomicDataset.scala:475-487, 3464-3497, 3289-3299). We write the same
  * content as parquet under `_`-prefixed subdirectories — hidden from
  * Spark's file index (like `_SUCCESS`), readable on any Hadoop filesystem,
  * no extra codec needed. All data is bounded driver-side metadata, so
  * [[Sidecars.write]] writes each sidecar's one file on the driver and
  * launches no Spark job; [[Sidecars.read]] reads them back on the driver
  * and launches none either (see [[ExecutionBridge.readParquetDir]]).
  */
/** One saved VCF/SAM header line. Top-level (not nested in [[Sidecars]])
  * so the generated encoder code compiles under Janino — object-nested
  * case classes fall back to the interpreted encoder with a logged
  * CompileException (same bug class as MediaFeatureRow,
  * MultimodalOps.scala). */
private[core] case class HeaderRow(raw: String)

object Sidecars {

  /** Writes each non-empty sidecar as one parquet file, from the driver,
    * with the schema and footer metadata `createDataset(rows).write.parquet`
    * would give it (see [[ExecutionBridge.writeParquetDir]]). */
  def write(spark: SparkSession, path: String, meta: GenomicMetadata): Unit = {
    import spark.implicits._
    def put[A](sub: String, rows: Seq[A])(implicit e: org.apache.spark.sql.Encoder[A]): Unit =
      if (rows.nonEmpty)
        ExecutionBridge.writeParquetDir(spark,
          new org.apache.hadoop.fs.Path(s"$path/_graft_$sub"), rows, e)
    put("sequences", meta.sequences.records)
    put("readGroups", meta.readGroups.readGroups)
    put("samples", meta.samples)
    put("processingSteps", meta.processingSteps)
    put("headerLines", meta.headerLines.map(h => HeaderRow(h.raw)))
  }

  def read(spark: SparkSession, path: String): GenomicMetadata = {
    import spark.implicits._
    def get[A](sub: String)(implicit e: org.apache.spark.sql.Encoder[A]): Seq[A] =
      ExecutionBridge.readParquetDir(spark,
        new org.apache.hadoop.fs.Path(s"$path/_graft_$sub"), e)
    GenomicMetadata(
      SequenceDictionary(get[SequenceRecord]("sequences")),
      ReadGroupDictionary(get[ReadGroup]("readGroups")),
      get[Sample]("samples"),
      get[ProcessingStep]("processingSteps"),
      get[HeaderRow]("headerLines").map(h => HeaderLine(h.raw)))
  }

  /** The `_partitionedByStartPos` flag file the reference writes for
    * Hive-partitioned layouts (GenomicDataset.scala:365-371). */
  def writePartitionFlag(spark: SparkSession, path: String, binSize: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_partitionedByStartPos")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(binSize.toString.getBytes("UTF-8"))
    out.close()
  }

  /** Sortedness sidecar — the role of the reference's `_partitionMap.avro`
    * (GenomicDataset.scala:3832-3877): a position-sorted save reloads with
    * the contract intact so downstream sorts are elided. */
  def writeSortedFlag(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_positionSorted")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
  }

  def readSortedFlag(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_positionSorted")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def readPartitionFlag(spark: SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_partitionedByStartPos")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = new Array[Byte](64)
      val n = math.max(in.read(bytes), 0)
      in.close()
      val s = new String(bytes, 0, n, "UTF-8").trim
      if (s.isEmpty) Some(1000000L) else Some(s.toLong)
    }
  }
}
