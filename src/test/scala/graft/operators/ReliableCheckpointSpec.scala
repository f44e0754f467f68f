package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Reliable-checkpoint option for iterative operators (VERDICT r16 #9):
  * with `spark.graft.checkpoint.reliable=true` and a checkpoint dir set,
  * the per-iteration lineage cuts in the Pregel loops / pointer jumping
  * go through `Dataset.checkpoint()` (directory-backed, survives executor
  * loss) instead of `localCheckpoint()` (executor-local, non-replicated).
  * Results must be identical either way, and the reliable path must
  * actually write checkpoint files. */
class ReliableCheckpointSpec extends SparkSpec {

  private def edges = {
    import spark.implicits._
    // two components: a 5-chain and a triangle
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("id_a", "id_b")
  }

  private def graphEdges = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L),
      (4L, 5L), (5L, 4L)).toDF("src", "dst")
  }

  private def withReliable[A](body: => A): A = {
    val dir = tmpDir()
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try body
    finally spark.conf.set("spark.graft.checkpoint.reliable", "false")
  }

  test("clusterDuplicates: reliable path matches local path and writes files") {
    val local = DedupOps.clusterDuplicates(edges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val reliable = withReliable {
      val dir = spark.sparkContext.getCheckpointDir.get
      val out = DedupOps.clusterDuplicates(edges)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val files = new java.io.File(new java.net.URI(dir).getPath).listFiles()
      assert(files != null && files.nonEmpty,
        s"reliable checkpoint wrote nothing under $dir")
      out
    }
    assert(reliable === local)
    assert(local.map(_._2).distinct.sorted === Seq(1L, 10L))
  }

  test("pageRank: reliable path matches local path") {
    val local = GraphOps.pageRank(graphEdges, iters = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val reliable = withReliable {
      GraphOps.pageRank(graphEdges, iters = 3)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(reliable === local)
  }

  test("freeSuperseded releases per-round checkpoint blocks") {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.size
    GraphOps.pageRank(graphEdges, iters = 8).count()
    // 8 rounds checkpointed 9 rank tables; every superseded one must have
    // been freed as its successor materialized (ADVICE r16) — only the
    // final checkpoint (plus nothing else: e/ndeg are released on return)
    // may remain registered. A silent no-op in freeSuperseded would leave
    // all 9.
    val live = sc.getPersistentRDDs.size - before
    assert(live <= 2, s"expected <=2 live blocks after pageRank, got $live")
  }

  test("an iterative operator frees its own cuts, never a caller's") {
    def live = spark.sparkContext.getPersistentRDDs
    def rddIds(d: org.apache.spark.sql.Dataset[_]): Set[Int] =
      d.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
    import spark.implicits._
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (GraphOps.pageRank(_, iters = 4)),
      "personalizedPageRank" -> (GraphOps.personalizedPageRank(_,
        Seq(1L).toDF("node"), iters = 4)),
      "labelPropagation" -> (GraphOps.labelPropagation(_, rounds = 3)),
      "kCoreByMedianDegree" -> (GraphOps.kCoreByMedianDegree(_, rounds = 3)),
      "hits" -> (GraphOps.hits(_, iters = 3)),
      "clusterDuplicates" -> (e => DedupOps.clusterDuplicates(
        e.select(col("src").as("id_a"), col("dst").as("id_b")))))
    ops.foreach { case (name, op) =>
      // the caller's own checkpoint is the operator's input
      val theirs = graphEdges.localCheckpoint()
      val before = live.keySet.toSet
      val out = op(theirs)
      out.collect()
      val added = live.keySet.toSet -- before
      // what the call leaves cached is exactly the cuts its result reads:
      // every superseded round's cut and all scaffolding are gone
      assert(added.subsetOf(rddIds(out)), s"$name left ${added -- rddIds(out)}")
      assert(rddIds(theirs).subsetOf(live.keySet.toSet), s"$name freed the caller's checkpoint")
      assert(theirs.count() == 8)
      rddIds(theirs).foreach(id => live(id).unpersist(blocking = true))
    }
  }

  test("kCoreByMedianDegree: reliable path matches local path") {
    val local = GraphOps.kCoreByMedianDegree(graphEdges, rounds = 2)
      .orderBy("node").collect().toSeq.map(_.toString)
    val reliable = withReliable {
      GraphOps.kCoreByMedianDegree(graphEdges, rounds = 2)
        .orderBy("node").collect().toSeq.map(_.toString)
    }
    assert(reliable === local)
  }

  test("labelPropagation, personalizedPageRank, hits and bpeMerges: reliable path matches local path") {
    import spark.implicits._
    val docs = Seq("banana bandana", "ban an anna", "nanana banana").toDF("text")
    val seeds = Seq(1L, 4L).toDF("node")
    def runAll: Seq[Seq[String]] = Seq(
      GraphOps.labelPropagation(graphEdges, rounds = 3).orderBy("node"),
      GraphOps.personalizedPageRank(graphEdges, seeds, iters = 3).orderBy("node"),
      GraphOps.hits(graphEdges, iters = 3).orderBy("side", "node"),
      TokenizerOps.bpeMerges(docs, "text", 4).orderBy("merge_rank"))
      .map(_.collect().toSeq.map(_.toString))
    val local = runAll
    val reliable = withReliable(runAll)
    assert(reliable === local)
    assert(local.forall(_.nonEmpty))
  }
}
