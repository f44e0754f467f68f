package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Same-package shim (like [[ColumnBridge]]) for the two session internals
  * graft's sinks need: a DataFrame over rows a plan has already produced,
  * and Spark's own parquet row writer and reader run on the driver. */
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

  /** The rows of the parquet files in directory `dir` (none when it does
    * not exist; `_`/`.`-prefixed files skipped, as Spark's file index
    * skips them), read on the driver with Spark's `ParquetReadSupport`
    * asking for the encoder's schema, then turned into `A` by the
    * encoder's deserializer. Launches no job: for bounded rows such as
    * those [[writeParquetDir]] writes. */
  def readParquetDir[A](spark: SparkSession, dir: Path, enc: Encoder[A]): Seq[A] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val conf = session.sessionState.newHadoopConf()
    val exprEnc = encoderFor(enc)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, exprEnc.schema.json)
    // session settings the reader's schema converter takes from the conf,
    // set as Spark's parquet file format sets them
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    val fromRow = exprEnc.resolveAndBind().createDeserializer()
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.getName).toSeq
      .flatMap { file =>
        val reader = ParquetReader.builder(new ParquetReadSupport(), file).withConf(conf).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null).map(fromRow).toVector
        finally reader.close()
      }
  }

  private final class RowWriterBuilder(file: HadoopOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }
}
