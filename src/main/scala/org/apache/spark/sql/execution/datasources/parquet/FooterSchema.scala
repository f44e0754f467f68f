package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.SparkException
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Same-package shim (like `org.apache.spark.sql.graft.ExecutionBridge`)
  * for the data schema `spark.read.parquet(path)` would infer, worked out
  * on the driver. Spark reads the footers it picks in a job
  * (`SchemaMergeUtils.mergeSchemasInParallel`); this reads the same
  * footers with the same `private[parquet]` readers in the driver's own
  * thread pool, so it launches none. It lives in this package because
  * those readers are private to it. */
object FooterSchema {

  /** Spark's data-schema inference for a parquet read of `path`, step for
    * step:
    *  - the path is globbed and checked as `DataSource` does (a missing
    *    path is Spark's `PATH_NOT_FOUND`), then listed by an
    *    `InMemoryFileIndex`;
    *  - the footers read are the ones `ParquetUtils.inferSchema` picks: the
    *    first `_common_metadata`, else the first `_metadata`, else the
    *    first data file by path, or every file under
    *    `spark.sql.parquet.mergeSchema`;
    *  - each footer converts by `ParquetFileFormat.readSchema` (the
    *    session's binaryAsString, int96, NTZ and nanosAsLong settings) and
    *    the schemas merge in file order as Spark's job merges them;
    *  - no footer is Spark's `UNABLE_TO_INFER_SCHEMA`.
    * Partition columns are not part of it: a read given this schema
    * discovers and appends them as a read without one does. A corrupt
    * footer raises the parquet reader's error rather than a failed job's. */
  def infer(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val hadoopConf = session.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val index = new InMemoryFileIndex(session, roots, Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(name: String) = files.filter(_.getPath.getName == name)
    val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val summary = named(ParquetFileWriter.PARQUET_METADATA_FILE)
    val data = files.diff(common ++ summary)
    val touch =
      if (conf.isParquetSchemaMergingEnabled)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ summary ++ common
      else common.headOption.orElse(summary.headOption).orElse(data.headOption).toSeq
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      hadoopConf, touch, conf.ignoreCorruptFiles)
    footers.flatMap(f => ParquetFileFormat.readSchema(Seq(f), session))
      .reduceOption { (a, b) =>
        try a.merge(b, conf.caseSensitiveAnalysis)
        catch { case e: SparkException => throw QueryExecutionErrors.failedMergingSchemaError(a, b, e) }
      }
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError(
        new ParquetFileFormat().toString))
  }
}
