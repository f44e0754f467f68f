package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{GenomicQueries, PipelineQueries, Query, RelationalQueries, SketchQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query catalog lives in graft.queries.*; each entry pairs a Spark
  * implementation with (usually) a DuckDB oracle. Column names are aliased
  * identically on both sides (the driver's compare sorts columns by name
  * before hashing).
  */
object SparkEntry {

  def allQueries: Seq[Query] =
    RelationalQueries.queries ++ GenomicQueries.queries ++
      PipelineQueries.queries ++ SketchQueries.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allQueries.find(_.name == "q03_revenue_by_nation").get
      .spark(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.spark).toMap

  /** Catalog names out of a comma-separated list: entries are trimmed and
    * empty ones dropped. Throws IllegalArgumentException naming every
    * entry absent from `known` (or when none is left), so a tool rejects a
    * typo before it starts a session or times anything. */
  def resolveQueries(list: String,
      known: collection.Set[String] = queries.keySet): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(known)
    require(unknown.isEmpty,
      s"unknown catalog queries: ${unknown.mkString(", ")}")
    require(names.nonEmpty, s"no query names in '$list'")
    names
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for engine-hash ops (MinHash/SimHash/
    * SRP-LSH) → driver records a rows-only check; those are covered by
    * ScalaTest specs instead. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
