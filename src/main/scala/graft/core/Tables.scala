package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Every parquet read in graft goes through [[readParquet]]: the schema is
  * read from the files' footers on the driver ([[FooterSchema]]), and the
  * read is `spark.read.schema(s).parquet(path)`, so Catalyst still owns
  * predicate pushdown, column pruning and partition discovery, and no
  * schema-inference job runs. ADAM's `loadParquet` (ADAMContext.scala:
  * 1814-1857, SURVEY.md §2.1) likewise reads with a schema it already
  * knows.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Throws IllegalArgumentException unless directory `dir` holds every
    * table of [[names]]: the tools check their input this way before they
    * start a session. */
  def requireAll(dir: String): Unit = {
    val absent = names.filterNot(n => new java.io.File(s"$dir/$n.parquet").exists)
    require(absent.isEmpty, s"$dir lacks ${absent.map(_ + ".parquet").mkString(", ")}")
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(readParquet(spark, s"$dir/$name.parquet"))

  /** `spark.read.parquet(path)` with the same schema and rows, without its
    * schema-inference job: the schema Spark would infer is read from the
    * footers on the driver. Nothing is remembered between calls, so a
    * rewritten path reads its new schema. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FooterSchema.infer(spark, path)).parquet(path)

  /** Normalize a `ts` column to TimestampType regardless of how the
    * parquet was generated: TIMESTAMP(NANOS) reads as LongType under
    * spark.sql.legacy.parquet.nanosAsLong (set for every session by
    * [[SessionTuning]]); TIMESTAMP(MICROS, isAdjustedToUTC=false) reads
    * natively as TIMESTAMP_NTZ in Spark 4. Downstream operators (unix_millis,
    * windows, watermarks) require TimestampType — with the UTC session
    * timezone the NTZ→TZ cast is exact (same micros value
    * reinterpreted). Also used by the CLI so any user parquet works. */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema.fields.find(_.name == tsCol).map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn(tsCol, timestamp_micros(expr(s"`$tsCol` div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }

  /** Register every table as a temp view so `spark.sql` mirrors the DuckDB
    * oracle's naming (SURVEY.md §7 step 4). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
