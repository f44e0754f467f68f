package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.algorithms.Bqsr
import graft.model.Alignment

/** Pins the repo-wide cache-lifetime convention (operators/Caching.scala).
  *
  * Tier 1 (release-before-return): scaffolding caches are unpersisted
  * inside the operator; the only registry entries a call may leave are
  * the checkpoint blocks BACKING its returned result, which the driver's
  * ContextCleaner reclaims once the result is unreferenced. So: repeated
  * calls whose results are dropped must return `getPersistentRDDs` to
  * baseline after GC — no unbounded growth across a long-lived session.
  *
  * Tier 2 (plan-owned): the returned plan reads the cache, so it stays
  * alive with the result; a standard session cleanup (unpersist-all)
  * must return the registry to baseline.
  */
class CacheLifetimeSpec extends SparkSpec {

  private def persistedCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  private def cleanSlate(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** GC-poll until the ContextCleaner has reclaimed result-backing
    * checkpoints and the registry is back at `base` (or timeout). */
  private def awaitReclaim(base: Int, timeoutMs: Long = 60000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (persistedCount > base && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(500)
    }
    persistedCount <= base
  }

  private def bqsrReads: Seq[Alignment] = (0 until 20).map(i =>
    Alignment(readName = Some(s"r$i"), referenceName = Some("chr1"),
      start = Some(100L + i), end = Some(110L + i), cigar = Some("10M"),
      sequence = Some("ACGTACGTAC"), qualityScores = Some("IIIII55555"),
      readMapped = Some(true), mappingQuality = Some(60),
      readGroupId = Some("rg1"), mismatchingPositions = Some(s"${i % 10}A${9 - i % 10}")))

  test("tier 1: dropped results leave no caches behind (3 repeated calls)") {
    import spark.implicits._
    cleanSlate()
    val base = persistedCount
    def runOnce(): Unit = {
      val edges = (1L to 30L).flatMap(i =>
        Seq((i, i % 30 + 1), (i % 30 + 1, i))).toDF("src", "dst")
      val docs = (1L to 50L).map(i => (i, i % 7)).toDF("id", "k")
      val events = (1L to 60L).map(i => (i % 9, i * 43200000L))
        .toDF("user_id", "ms")
        .withColumn("ts", timestamp_millis(col("ms")))
      GraphOps.pageRank(edges, iters = 2).queryExecution.toRdd.count()
      GraphOps.labelPropagation(edges, rounds = 2)
        .queryExecution.toRdd.count()
      SkewOps.keySkewReport(docs, "k", k = 3).queryExecution.toRdd.count()
      Sessionize.rollingDistinctActives(events, "user_id", "ts", 7)
        .queryExecution.toRdd.count()
      // round-11 tier-1 operators
      val labels = docs.select(col("id"), col("k").as("label"))
        .withColumnRenamed("id", "id")
      GraphOps.modularity(edges,
          labels.select(col("id"), col("label")))
        .queryExecution.toRdd.count()
      GraphOps.assortativity(edges).queryExecution.toRdd.count()
      DedupOps.mergeClusters(
          docs.select(col("id"), (col("id") - col("id") % 5).as("cluster_id")),
          docs.limit(5).select(col("id").as("id_a"), (col("id") + 1).as("id_b")))
        .queryExecution.toRdd.count()
      // round-12 tier-1 operators
      GraphOps.hits(edges, iters = 2).queryExecution.toRdd.count()
      val emb = (1L to 20L).map(i =>
        (i, (i % 3).toInt, Array((i % 5).toFloat, (i % 7).toFloat)))
        .toDF("vec_id", "label", "embedding")
      ClusteringOps.nearestCentroidEval(emb, "label")
        .queryExecution.toRdd.count()
      // round-13 tier-1 operators
      Stats.mutualInformationReport(docs, "k", "id")
        .queryExecution.toRdd.count()
      ClusteringOps.simplifiedSilhouette(emb, "label")
        .queryExecution.toRdd.count()
      // round-15 tier-1 operators
      Stats.ksDrift(docs.select((col("id") % 2 === 0).as("side"),
          col("k").as("v")), "side", "v")
        .queryExecution.toRdd.count()
      // Bqsr's lineage cut of its input backs only its result
      Bqsr(bqsrReads.toDS(), Set(("chr1", 103L))).queryExecution.toRdd.count()
    }
    for (_ <- 1 to 3) runOnce()
    // all results are out of scope: ContextCleaner must drain the
    // registry back to baseline — scaffolding leaks would survive GC
    // forever and fail here
    assert(awaitReclaim(base),
      s"caches outlived their dropped results: $base -> $persistedCount: " +
        spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
    cleanSlate()
  }

  test("tier 1: Bqsr leaves a caller's persisted reads persisted") {
    import spark.implicits._
    cleanSlate()
    val base = persistedCount
    val reads = bqsrReads.toDS().persist()
    reads.count()
    val withReads = persistedCount
    assert(withReads == base + 1)
    for (_ <- 1 to 3)
      Bqsr(reads, Set(("chr1", 103L))).queryExecution.toRdd.count()
    assert(awaitReclaim(withReads),
      s"Bqsr's cut outlived its dropped results: $withReads -> $persistedCount")
    assert(persistedCount == withReads)
    assert(reads.storageLevel ==
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    reads.unpersist(blocking = true)
    cleanSlate()
  }

  test("tier 2: plan-owned caches fully return to baseline on cleanup") {
    import spark.implicits._
    cleanSlate()
    val base = persistedCount
    val df = (1L to 200L).map(i => (i, i % 13)).toDF("id", "v")
    val edges = (1L to 30L).flatMap(i =>
      Seq((i, i % 30 + 1), (i, (i + 7) % 30 + 1))).toDF("src", "dst")
    Quantiles.globalNtile(df, "v", "id", n = 4).queryExecution.toRdd.count()
    GraphOps.triangleCounts(edges).queryExecution.toRdd.count()
    // round-11 tier-2: balancedShards reads globalRank's plan-owned cache
    ShardOps.shardReport(df, "v", "id", nShards = 4)
      .queryExecution.toRdd.count()
    // round-12 tier-2: sourceOverlapExact's (source, fp) distinct is
    // read by both the totals and the self-join of the returned plan
    val docs2 = (1L to 40L).map(i => (s"s${i % 4}", s"t${i % 9}"))
      .toDF("source", "text")
    CorpusCompareOps.sourceOverlapExact(docs2, "text", "source")
      .queryExecution.toRdd.count()
    // round-13 tier-2: targetEncode's category grid is read by both the
    // global re-aggregate and the returned category-sized plan
    Stats.targetEncode(df, "v", "id", priorWeight = 5L)
      .queryExecution.toRdd.count()
    cleanSlate()
    assert(persistedCount <= base,
      "tier-2 caches survived a standard session cleanup: " +
        spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
  }
}
