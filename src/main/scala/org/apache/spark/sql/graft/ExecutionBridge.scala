package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Same-package shim (like [[ColumnBridge]]) for the two session internals
  * graft's sinks need: a DataFrame over rows a plan has already produced,
  * and Spark's own parquet row writer run on the driver. */
object ExecutionBridge {

  /** A DataFrame whose plan is a scan of `rows`. An action on it runs only
    * the jobs that `rows` still needs: stages whose shuffle output already
    * exists are skipped, so sinks sharing one `rows` share its execution. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Replaces directory `dir` with one parquet file holding `rows`, written
    * from the driver with Spark's `ParquetWriteSupport`, the session's
    * codec and the session confs `ParquetWriteSupport.init` reads, copied
    * as Spark's file writer copies them (`ParquetUtils.prepareWrite`), so
    * the footer schema and metadata are the ones `Dataset.write.parquet`
    * gives. Launches no job: for bounded, driver-held rows. */
  def writeParquetDir[A](spark: SparkSession, dir: Path, rows: Seq[A],
      enc: Encoder[A]): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val conf = session.sessionState.newHadoopConf()
    val exprEnc = encoderFor(enc)
    ParquetWriteSupport.setSchema(exprEnc.schema, conf)
    // ParquetWriteSupport.init fails on any of these left unset
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.parquetAnnotateVariantLogicalType.toString)
    val codec = CompressionCodecName.valueOf(
      new ParquetOptions(Map.empty[String, String], sqlConf).compressionCodecClassName)
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true)
    val file = new Path(dir, s"part-00000${codec.getExtension}.parquet")
    val writer = new RowWriterBuilder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withCompressionCodec(codec)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val toRow = exprEnc.createSerializer()
    try rows.foreach(r => writer.write(toRow(r)))
    finally writer.close()
  }

  private final class RowWriterBuilder(file: HadoopOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }
}
