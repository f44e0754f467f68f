package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.streaming.EventStreams

/** End-to-end Structured Streaming drive: stream the events parquet
  * directory as a file source (readStream → watermark+window → writeStream)
  * and print the materialized windows. Usage:
  * runMain graft.tools.StreamingDemo [sfDir]
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.SessionTuning.local()
    spark.sparkContext.setLogLevel("ERROR")

    // file-source stream over the real events table (the parquet is a
    // single file; the file source wants a directory, so stage it into one —
    // also demonstrates new-file pickup semantics)
    val stage = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      stage.resolve("events.parquet"))
    val batchSchema = Tables.readParquet(spark, s"$sfDir/events.parquet").schema
    val raw = spark.readStream.schema(batchSchema).parquet(stage.toString)
    val events = raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))

    val q = EventStreams.tumblingCounts(events, "1 day", "1 hour")
      .writeStream.format("memory").queryName("daily")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val rows = spark.table("daily").orderBy(desc("n_events")).limit(5).collect()
    println("STREAM windows=" + spark.table("daily").count() +
      " top=" + rows.map(r =>
        s"${r.getAs[java.sql.Timestamp]("window_start")}/${r.getAs[String]("event_type")}:${r.getAs[Long]("n_events")}")
        .mkString(" "))
    spark.stop()
  }
}
