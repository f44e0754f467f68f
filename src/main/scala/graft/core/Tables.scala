package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst owns predicate
  * pushdown / column pruning / partition discovery — see SURVEY.md §2.1
  * (reference: adam-core ADAMContext.loadParquet, ADAMContext.scala:1814-1857,
  * where pushdown/projection are hand-plumbed; here they are free).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

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
